"""ET registry: name → algorithm class.

Reference: hardcoded MLMapping.mapping (TrainAdaptor.scala:124-168) +
dynamic ETRegister (tech/mlsql/ets/register/ETRegister.scala:25-48) +
``SQL{name}`` classname fallback (TrainAdaptor.scala:176-178).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Type

from streamingpro_spark.operators.base import ETAlgorithm, local_table

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

_REGISTRY: dict[str, Type[ETAlgorithm]] = {}
_INSTANCES: dict[str, ETAlgorithm] = {}


def register_et(name: str):
    def deco(cls: Type[ETAlgorithm]) -> Type[ETAlgorithm]:
        _REGISTRY[name] = cls
        return cls
    return deco


def alias_et(alias: str, existing: str) -> None:
    """Register a second name for an ET class (the reference registry
    maps several names onto one class — TrainAdaptor.scala:124-168)."""
    _REGISTRY[alias] = _REGISTRY[existing]


def _ensure_loaded() -> None:
    # import side-effect registration (mirrors classpath scan)
    import streamingpro_spark.operators.table_ops      # noqa: F401
    import streamingpro_spark.operators.feature_ops    # noqa: F401
    import streamingpro_spark.operators.ml_algs        # noqa: F401
    import streamingpro_spark.operators.dedup          # noqa: F401
    import streamingpro_spark.operators.text_analysis  # noqa: F401
    import streamingpro_spark.operators.similarity     # noqa: F401
    import streamingpro_spark.operators.multimodal     # noqa: F401
    import streamingpro_spark.operators.script_udf     # noqa: F401
    import streamingpro_spark.operators.map_ops        # noqa: F401
    import streamingpro_spark.operators.corpus_ops     # noqa: F401
    import streamingpro_spark.operators.pipeline_ops   # noqa: F401
    import streamingpro_spark.operators.infra_cmds     # noqa: F401
    import streamingpro_spark.streaming.stateful       # noqa: F401


def find_algorithm(name: str) -> ETAlgorithm:
    _ensure_loaded()
    if name not in _REGISTRY:
        raise ValueError(f"unknown ET algorithm: {name!r}; known: {sorted(_REGISTRY)}")
    if name not in _INSTANCES:
        _INSTANCES[name] = _REGISTRY[name]()
    return _INSTANCES[name]


def all_algorithms() -> dict[str, Type[ETAlgorithm]]:
    _ensure_loaded()
    return dict(_REGISTRY)


def list_algorithms(spark: "SparkSession") -> "DataFrame":
    _ensure_loaded()
    rows = [(n, c().model_type, (c.__doc__ or "").strip().splitlines()[0] if c.__doc__ else "")
            for n, c in sorted(_REGISTRY.items())]
    return local_table(spark, rows, "name: string, modelType: string, doc: string")


def explain_algorithm(spark: "SparkSession", name: str) -> "DataFrame":
    alg = find_algorithm(name)
    return local_table(spark, alg.explain_params(),
                       "param: string, description: string, defaultValue: string")
