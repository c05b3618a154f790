"""!command macro table + placeholder expansion.

Reference: macro table tech/mlsql/dsl/CommandCollection.scala:25-91;
arg tokenizer tech/mlsql/dsl/adaptor/CommandAdaptor.scala:21-70;
placeholder engine tech/mlsql/template/Templates2.scala:26-140.

Placeholders supported (the forms the reference's engine evaluates,
Templates2.scala:26-140):
  ``{}``            next positional arg
  ``{0}``           indexed arg (out of range -> empty)
  ``{N:default}``   indexed arg with a default when absent (N may be
                    negative — always the default, the reference's
                    idiom for "optional trailing clause").  default is
                    a literal, ``uuid()`` (a fresh 32-hex name), or
                    ``next(key,fallback)`` (the arg FOLLOWING the
                    literal arg ``key``, else the fallback — how
                    ``... named out`` tails resolve)
  ``{:all}``        all args joined with a space
  ``{:all-json}``   all args as a JSON array (engine extension)
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from streamingpro_spark.parser import CommandStmt

# command name -> statement template (mirrors CommandCollection entries;
# each expands to a `run command as ET...` statement, exactly like the
# reference's `!cmd` → `run command as ...` rewrite)
MACROS: dict[str, str] = {
    "show": 'run command as ShowCommand.`{:all}`',
    "desc": 'run command as SchemaCommand.`{}`',
    "cache": 'run {} as CacheExt.`` where execute="cache" and lifeTime="{1}"',
    "uncache": 'run {} as CacheExt.`` where execute="uncache"',
    "unpersist": 'run {} as CacheExt.`` where execute="uncache"',
    "println": 'run command as PrintCommand.`` where input="{}"',
    "print": 'run command as PrintCommand.`` where input="{}"',
    "withWartermark": 'run {} as WaterMarkInPlace.`` where eventTimeCol="{1}" and delayThreshold="{2}"',
    "withWatermark": 'run {} as WaterMarkInPlace.`` where eventTimeCol="{1}" and delayThreshold="{2}"',
    "kill": 'run command as Kill.`{}`',
    "fs": "run command as HDFSCommand.`` where parameters='''{:all-json}'''",
    "hdfs": "run command as HDFSCommand.`` where parameters='''{:all-json}'''",
    "delta": "run command as DeltaCommandWrapper.`` where parameters='''{:all-json}'''",
    "profiler": "run command as ProfilerCommand.`` where action=\"{}\" and sql='''{1}'''",
    "tableRepartition": 'run {} as TableRepartition.`` where partitionNum="{1}" as {2}',
    "emptyTable": "run command as EmptyTableWithSchema.`` where schema='''{}'''",
    "dropTable": 'run command as DropTempTable.`{}`',
    "kafkaTool": "run command as KafkaCommand.`` where parameters='''{:all-json}'''",
    "callback": "run command as MLSQLEventCommand.`` where parameters='''{:all-json}'''",
    # reference CommandCollection.scala:62 — arg forms parsed by the ET
    # (env/conf/on/named — PythonCommand.scala:171-223); the output
    # table name comes from the `named <out>` tail, else a fresh uuid
    # (the reference's {-1:next(named,uuid())} Templates2 form)
    "python": "run command as PythonCommand.`` where "
              "parameters='''{:all-json}''' as {-1:next(named,uuid())}",
    "iterator": 'run command as IteratorCommand.`` where input="{}"',
    # reference CommandCollection.scala:34
    "jdbc": "run command as JDBC.`{}` where `driver-statement-0`='''{1}'''",
    "plugin": 'run command as PluginCommand.`` where action="{}" and name="{1}"',
    # reference CommandCollection.scala:53 — filler words at odd indices:
    # !split tbl by <labelCol> rate <r0,r1,..> [named <out>]; the
    # output name defaults to a uuid when the named tail is omitted
    "split": 'run {0} as RateSampler.`` where labelCol="{2}" and '
             'sampleRate="{4}" as {-1:next(named,uuid())}',
    # reference CommandCollection.scala:64 — !runScript '''<script>''' [named <out>]
    "runScript": "run command as RunScript.`` where code='''{0}''' "
                 "as {-1:next(named,uuid())}",
    # reference CommandCollection.scala:55
    "saveUploadFileToHome": 'run command as DownloadExt.`` where from="{}" and to="{1}"',
    # reference CommandCollection.scala:48 — !model history <path>
    "model": 'run command as ModelCommand.`{1}` where action="{0}"',
    # reference CommandCollection.scala:46 — !resource add 8c
    "resource": 'run command as EngineResource.`` where action="{0}" and cpus="{1}"',
    # reference CommandCollection.scala:60 — !scheduler "<path>" with "<cron>"
    "scheduler": "run command as SchedulerCommand.`` where parameters='''{:all-json}'''",
}

# macros whose reference behavior cannot apply here — rendered as a
# documented drop (the ScalaScriptUDF pattern: a clear "not supported
# because X, use Y" error instead of `unknown command`).
# Reference: CommandCollection.scala:40-44 — the PythonEnvExt conda
# family manages per-engine conda environments for the reference's
# JVM-hosted Python workers (SQLPythonEnvExt.scala).
DOCUMENTED_DROP_MACROS: dict[str, str] = {
    name: (
        f"!{name} is a documented drop: the reference's PythonEnvExt "
        "conda-environment management provisions Python for its "
        "JVM-hosted workers, but this engine IS Python — executors "
        "run the driver's interpreter.  Pin the worker environment "
        "with spark.pyspark.python / PYSPARK_PYTHON at session start, "
        "and use !python / PythonCommand for in-script python."
    )
    for name in ("createPythonEnv", "removePythonEnv",
                 "createPythonEnvFromFile", "removePythonEnvFromFile")
}
DOCUMENTED_DROP_MACROS["ray"] = (
    "!ray is a documented drop: the reference bridges to a Ray cluster "
    "for external python compute (CommandCollection.scala); Ray is out "
    "of scope here (SURVEY.md §7).  Use !python / PythonCommand for "
    "driver python, or register Alg/PythonAlg for distributed "
    "mapInPandas compute.")


#: the !if family: interpreted by the engine, never expanded
BRANCH_COMMANDS = frozenset({"if", "elif", "else", "then", "fi"})


def check_command(name: str) -> None:
    """Raise the error ``!name`` gets when it is neither a macro nor a
    branch command: its documented-drop reason, else ``unknown
    command``.  Execution and ``Engine.validate`` both call this."""
    if name in MACROS or name in BRANCH_COMMANDS:
        return
    raise ValueError(DOCUMENTED_DROP_MACROS.get(
        name, f"unknown command !{name}"))


def _eval_default(expr: str, args: list[str]) -> str:
    """Evaluate a `{N:default}` default expression the way the
    reference's Templates2.evaluateDefaultValue does: `uuid()` → fresh
    32-hex name; `next(key,fallback)` → the arg AFTER the literal arg
    `key` if present, else the (recursively evaluated) fallback; any
    other string → itself."""
    expr = expr.strip()
    if expr == "uuid()":
        import uuid
        # leading letter: a raw uuid hex can start with a digit, which
        # is not a valid unquoted identifier (here or in Spark SQL)
        return "u" + uuid.uuid4().hex[1:]
    m = re.fullmatch(r"next\(([^,()]+),(.+)\)", expr)
    if m:
        key = m.group(1).strip()
        if key in args:
            idx = args.index(key)
            if idx + 1 < len(args):
                return args[idx + 1]
        return _eval_default(m.group(2), args)
    return expr


def expand_macro(cmd: "CommandStmt") -> str:
    """Expand ``!name a b c`` into its `run command as ...` template."""
    template = MACROS[cmd.command]
    args = cmd.args
    pos = 0

    def repl(m: re.Match) -> str:
        nonlocal pos
        token = m.group(1)
        if token == "":
            result = args[pos] if pos < len(args) else ""
            pos += 1
            return result
        if token == ":all":
            return " ".join(args)
        if token == ":all-json":
            import json
            return json.dumps(args)
        if ":" in token:
            idx_s, default = token.split(":", 1)
            idx = int(idx_s)
            if 0 <= idx < len(args):
                return args[idx]
            return _eval_default(default, args)
        idx = int(token)
        return args[idx] if idx < len(args) else ""

    expanded = re.sub(r"\{(\d*|-?\d+:[^{}]*|:all|:all-json)\}",
                      repl, template)
    # a template ending in `as {N}` with the arg absent would leave a
    # dangling `as ` (parse error) — drop the clause so the engine
    # assigns its UUID output name, same as a `run` without `as`
    return re.sub(r"\s+as\s*$", "", expanded)
