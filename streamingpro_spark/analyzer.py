"""Pre-execution analyzer: statement list → MLSQLTable-style access list.

Reference: pass D of ScriptSQLExec.parse (auth, :122-142) builds
`MLSQLTable(db, table, operateType, sourceType, tableType)` rows per
statement and hands them to a pluggable TableAuth
(streaming/dsl/auth/Protocal.scala:67-111 — OperateType
load/save/select/insert/...; TableType hive/hdfs/jdbc/kafka/temp/...).

Implementation: the statement forms (load/save/train/...) carry their
tables explicitly; for raw SELECT text the tables are extracted with
Spark's OWN parser (sessionState.sqlParser.parsePlan — the same
mechanism as the reference's grammar-validate pass), falling back to a
FROM/JOIN scan when no session is supplied.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from streamingpro_spark import parser as P
from streamingpro_spark.macros import MACROS, expand_macro

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_FILE_TYPES = {"csv", "json", "parquet", "orc", "text", "xml", "libsvm",
               "image", "binaryFile", "streamParquet"}


@dataclass
class TableRef:
    """MLSQLTable equivalent (Protocal.scala:67-80)."""
    table: str
    operate_type: str            # load | save | select | train | insert | ...
    source_type: str = ""        # parquet | jdbc | hive | temp | ...
    db: str | None = None

    def as_dict(self) -> dict:
        return {"table": self.table, "operateType": self.operate_type,
                "sourceType": self.source_type, "db": self.db}


@dataclass
class AnalyzeResult:
    inputs: list[TableRef] = field(default_factory=list)
    outputs: list[TableRef] = field(default_factory=list)

    def as_dict(self) -> dict:
        return {"inputs": [t.as_dict() for t in self.inputs],
                "outputs": [t.as_dict() for t in self.outputs]}


_FROM_JOIN_RE = re.compile(
    r"\b(?:from|join)\s+([A-Za-z_][\w]*(?:\.[\w]+)?)", re.IGNORECASE)


def tables_in_sql(sql: str, spark: "SparkSession | None") -> list[str]:
    """The tables a SQL text reads: the ``UnresolvedRelation`` leaves of
    Spark's own parse (CTE aliases excluded, ``db.tbl`` kept whole),
    else a FROM/JOIN scan when there is no session or the parse fails."""
    if spark is not None:
        try:
            jplan = (spark._jsparkSession.sessionState().sqlParser()
                     .parsePlan(sql))
            tree = jplan.treeString()
            # UnresolvedRelation leaves render as 'UnresolvedRelation [name];
            # CTE aliases ('CTE [t, u]' header) are not real inputs
            ctes = {n.strip() for m in re.findall(r"^CTE \[([^\]]+)\]", tree,
                                                  re.MULTILINE)
                    for n in m.split(",")}
            names = re.findall(r"'UnresolvedRelation \[([^\]]+)\]", tree)
            if names:
                # multipart names render as [db, tbl] — keep ALL parts
                # (split[0] reported `db.tbl` to the auth pass as `db`)
                full = {".".join(p.strip() for p in n.split(","))
                        for n in names}
                return sorted({n for n in full if n not in ctes})
        except Exception:
            pass
    return sorted({m.group(1) for m in _FROM_JOIN_RE.finditer(sql)
                   if m.group(1).lower() not in ("select",)})


def analyze(script: str, spark: "SparkSession | None" = None,
            env: dict[str, str] | None = None,
            fetch_include=None) -> AnalyzeResult:
    """Analyze without executing (``Engine.analyze``, the auth pass and
    REST ``executeMode=analyze``).  Statements come from
    ``parser.walk``, so ``${var}``, ``set`` and includes resolve exactly
    as for ``Engine.validate``."""
    result = AnalyzeResult()
    for walked in P.walk(script, env or {}, fetch_include):
        stmt = walked.stmt
        if isinstance(stmt, P.CommandStmt):
            # macros read real tables (`!split docs ...` → run docs as
            # RateSampler) — expand so the auth pass sees them
            if stmt.command not in MACROS:
                continue
            try:
                stmt = P.parse_statement(expand_macro(stmt))
            except Exception:
                continue
        if isinstance(stmt, P.LoadStmt):
            src = ("file" if stmt.format in _FILE_TYPES else stmt.format)
            result.inputs.append(TableRef(stmt.path, "load", src))
            result.outputs.append(TableRef(stmt.table, "load", "temp"))
        elif isinstance(stmt, P.SelectStmt):
            for t in tables_in_sql(stmt.sql, spark):
                result.inputs.append(TableRef(t, "select", "temp"))
            result.outputs.append(TableRef(stmt.table, "select", "temp"))
        elif isinstance(stmt, P.SaveStmt):
            result.inputs.append(TableRef(stmt.table, "save", "temp"))
            result.outputs.append(TableRef(stmt.path, "save",
                                           "file" if stmt.format in _FILE_TYPES
                                           else stmt.format))
        elif isinstance(stmt, P.RegisterStmt):
            # `register Alg.`path` as fn` READS the model path (or the
            # ScriptUDF source table) — the auth pass must see it
            result.inputs.append(TableRef(stmt.path, "register", "model"))
        elif isinstance(stmt, P.TrainStmt):
            result.inputs.append(TableRef(stmt.table, stmt.verb, "temp"))
            if stmt.out_table:
                result.outputs.append(TableRef(stmt.out_table, stmt.verb, "temp"))
        elif isinstance(stmt, P.RawSqlStmt):
            op = stmt.sql.strip().split(None, 1)[0].lower()
            for t in tables_in_sql(stmt.sql, spark):
                result.inputs.append(TableRef(t, op, "hive"))
    return result
