"""Script parser: statement splitting + per-statement structure parsing.

The reference parses scripts with a 12-production ANTLR grammar
(reference: streamingpro-dsl/src/main/resources/DSLSQL.g4:15-31) and
dispatches on the first keyword
(streaming/dsl/ScriptSQLExec.scala:372-412).  The grammar is small enough
that a hand-written tokenizer is simpler and dependency-free in Python.

Lexical elements handled here (DSLSQL.g4:132-194):
  - ``;`` statement separator (outside quotes/blocks)
  - ``'...'`` / ``"..."`` strings with ``\\`` escapes
  - ``'''...'''`` block strings
  - `` `...` `` quoted identifiers / paths
  - ``--`` line comments
  - ``${var}`` env templating (TemplateMerge.merge,
    streaming/dsl/template/TemplateMerge.scala:33)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# statement splitting
# ---------------------------------------------------------------------------

def split_statements(script: str) -> list[str]:
    """Split a script on ``;`` at top level, honoring quotes, block strings,
    backticks and ``--`` comments.  Comments are stripped."""
    stmts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(script)
    while i < n:
        ch = script[i]
        if script.startswith("'''", i):
            j = script.find("'''", i + 3)
            j = n if j < 0 else j + 3
            buf.append(script[i:j])
            i = j
        elif ch in ("'", '"'):
            j = i + 1
            while j < n:
                if script[j] == "\\":
                    j += 2
                    continue
                if script[j] == ch:
                    j += 1
                    break
                j += 1
            buf.append(script[i:j])
            i = j
        elif ch == "`":
            j = script.find("`", i + 1)
            j = n if j < 0 else j + 1
            buf.append(script[i:j])
            i = j
        elif script.startswith("--", i):
            j = script.find("\n", i)
            i = n if j < 0 else j + 1
        elif ch == ";":
            s = "".join(buf).strip()
            if s:
                stmts.append(s)
            buf = []
            i += 1
        else:
            buf.append(ch)
            i += 1
    s = "".join(buf).strip()
    if s:
        stmts.append(s)
    return stmts


# ---------------------------------------------------------------------------
# tokenizer (per statement)
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<block>'''(?:.|\n)*?''')
  | (?P<dq>"(?:\\.|[^"\\])*")
  | (?P<sq>'(?:\\.|[^'\\])*')
  | (?P<bt>`[^`]*`)
  | (?P<word>[^\s`'"]+)
    """,
    re.VERBOSE,
)


def tokenize(text: str) -> list[str]:
    return [m.group(0) for m in _TOKEN_RE.finditer(text)]


def unquote(tok: str) -> str:
    """Strip one level of quoting from a token, processing escapes."""
    if tok.startswith("'''") and tok.endswith("'''") and len(tok) >= 6:
        return tok[3:-3]
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "'\"":
        body = tok[1:-1]
        return re.sub(r"\\(.)", r"\1", body)
    if len(tok) >= 2 and tok[0] == "`" and tok[-1] == "`":
        return tok[1:-1]
    return tok


def template_merge(text: str, env: dict[str, str]) -> str:
    """``${var}`` substitution (reference: TemplateMerge.scala:33-59)."""
    def sub(m: re.Match) -> str:
        key = m.group(1)
        return str(env.get(key, m.group(0)))
    return re.sub(r"\$\{\s*([^}]+?)\s*\}", sub, text)


# ---------------------------------------------------------------------------
# option ("where k=v and k=v") parsing
# ---------------------------------------------------------------------------

def parse_options(tokens: list[str]) -> dict[str, str]:
    """Parse ``k = v [and k = v]*`` token stream into a dict.

    Reference expression grammar: DSLSQL.g4 `expression: qualifiedName '='
    (STRING|BLOCK_STRING)` joined by `booleanExpression: 'and' expression`.
    Keys may be bare/dotted/backticked; values quoted or block strings.
    """
    opts: dict[str, str] = {}
    i = 0
    while i < len(tokens):
        tok = tokens[i]
        if tok.lower() == "and":
            i += 1
            continue
        key = unquote(tok)
        # allow `k=v` glued, `k =v`, `k= v`, `k = v`
        if "=" in key and not key.endswith("="):
            k, v = key.split("=", 1)
            if v:
                opts[k] = unquote(v)
                i += 1
                continue
            key = k
        if key.endswith("="):
            key = key[:-1]
            i += 1
        elif i + 1 < len(tokens) and tokens[i + 1] == "=":
            i += 2
        elif i + 1 < len(tokens) and tokens[i + 1].startswith("="):
            # "= value" glued
            val = tokens[i + 1][1:]
            if val:
                opts[key] = unquote(val)
                i += 2
                continue
            i += 2
        else:
            i += 1
            continue
        if i < len(tokens):
            opts[key] = unquote(tokens[i])
            i += 1
    return opts


# ---------------------------------------------------------------------------
# parsed statement forms
# ---------------------------------------------------------------------------

@dataclass
class LoadStmt:
    format: str
    path: str
    options: dict[str, str]
    table: str


@dataclass
class SelectStmt:
    sql: str          # full SELECT text (without trailing "as t")
    table: str


@dataclass
class SaveStmt:
    mode: str         # overwrite|append|errorIfExists|ignore
    table: str
    format: str
    path: str
    options: dict[str, str]
    partition_by: list[str] = field(default_factory=list)


@dataclass
class SetStmt:
    key: str
    value: str
    options: dict[str, str]


@dataclass
class ConnectStmt:
    format: str
    options: dict[str, str]
    alias: str


@dataclass
class TrainStmt:
    verb: str         # train|run|predict
    table: str
    algorithm: str
    path: str
    options: dict[str, str]
    out_table: str | None


@dataclass
class RegisterStmt:
    algorithm: str
    path: str
    function: str
    options: dict[str, str]


@dataclass
class IncludeStmt:
    format: str
    path: str
    options: dict[str, str]


@dataclass
class CommandStmt:
    command: str
    args: list[str]


@dataclass
class RawSqlStmt:
    sql: str          # insert/create/drop/refresh passthrough


Parsed = (
    LoadStmt | SelectStmt | SaveStmt | SetStmt | ConnectStmt | TrainStmt
    | RegisterStmt | IncludeStmt | CommandStmt | RawSqlStmt
)

_SAVE_MODES = {"overwrite", "append", "errorifexists", "ignore",
               # streaming output modes (mapped to outputMode by the sink)
               "complete", "update"}
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def parse_ref(tok: str, next_tok: str | None = None) -> tuple[str, str, int]:
    """Parse ``fmt.`path``` or ``fmt.path`` or ``fmt.`` (empty path).

    Returns (format, path, tokens_consumed).  The tokenizer keeps
    ``fmt.`path``` as two tokens when there is no space (``fmt.`` + `` `path` ``)
    because backtick starts a new token.
    """
    consumed = 1
    if "." in tok:
        fmt, rest = tok.split(".", 1)
    else:
        fmt, rest = tok, ""
    if rest == "" and next_tok is not None and next_tok.startswith("`"):
        rest = unquote(next_tok)
        consumed = 2
    else:
        rest = unquote(rest)
    return fmt, rest, consumed


def statement_kind(stmt: str) -> str:
    s = stmt.lstrip()
    if s.startswith("!"):
        return "command"
    head = s.split(None, 1)[0].lower() if s else ""
    if head in {"load", "select", "save", "set", "connect", "train", "run",
                "predict", "register", "include"}:
        return head
    if head in {"insert", "create", "drop", "refresh", "show", "describe",
                "desc", "with", "explain"}:
        return "sql"
    return "sql"


def _strip_trailing_as(tokens: list[str]) -> tuple[list[str], str | None]:
    if len(tokens) >= 2 and tokens[-2].lower() == "as" and _IDENT_RE.match(tokens[-1]):
        return tokens[:-2], tokens[-1]
    return tokens, None


def parse_statement(stmt: str) -> Parsed:
    kind = statement_kind(stmt)
    if kind == "command":
        toks = tokenize(stmt)
        return CommandStmt(command=toks[0][1:], args=[unquote(t) for t in toks[1:]])
    if kind == "sql":
        # a CTE query ending in `as <table>` is a select statement with an
        # output binding (a bare trailing `as x` is never valid raw SQL)
        if stmt.lstrip()[:4].lower() == "with":
            rest, out = _strip_trailing_as(tokenize(stmt))
            if out is not None:
                m = re.search(r"\bas\s+" + re.escape(out) + r"\s*$", stmt,
                              re.IGNORECASE)
                if m:
                    return SelectStmt(sql=stmt[: m.start()].strip(), table=out)
        return RawSqlStmt(sql=stmt)
    if kind == "select":
        toks = tokenize(stmt)
        rest, out = _strip_trailing_as(toks)
        if out is None:
            raise ValueError(f"select statement must end with 'as <table>': {stmt[:80]}")
        # reconstruct SQL text by removing the trailing "as out" from raw text
        m = re.search(r"\bas\s+" + re.escape(out) + r"\s*$", stmt, re.IGNORECASE)
        sql = stmt[: m.start()].strip() if m else stmt
        return SelectStmt(sql=sql, table=out)

    toks = tokenize(stmt)
    head = toks[0].lower()

    if head == "load":
        fmt, path, consumed = parse_ref(toks[1], toks[2] if len(toks) > 2 else None)
        rest = toks[1 + consumed:]
        rest, out = _strip_trailing_as(rest)
        opts: dict[str, str] = {}
        if rest and rest[0].lower() in ("where", "options"):
            opts = parse_options(rest[1:])
        if out is None:
            raise ValueError(f"load statement must end with 'as <table>': {stmt[:80]}")
        return LoadStmt(format=fmt, path=path, options=opts, table=out)

    if head == "save":
        i = 1
        mode = "errorIfExists"
        if toks[i].lower() in _SAVE_MODES:
            mode = toks[i]
            i += 1
        table = toks[i]
        i += 1
        if toks[i].lower() != "as":
            # a bad save mode consumed the table slot — name the real culprit
            if toks[i + 1:i + 2] and toks[i + 1].lower() == "as":
                raise ValueError(
                    f"save: invalid save mode {mode if mode != 'errorIfExists' else table!r}"
                    f" (expected one of {sorted(_SAVE_MODES)})")
            raise ValueError(f"save: expected 'as', got {toks[i]!r}")
        i += 1
        fmt, path, consumed = parse_ref(toks[i], toks[i + 1] if len(toks) > i + 1 else None)
        i += consumed
        rest = toks[i:]
        partition_by: list[str] = []
        # partitionBy col[,col] may appear at the end (SaveAdaptor.scala:70-73)
        for j, t in enumerate(rest):
            if t.lower() == "partitionby":
                partition_by = [c.strip() for c in "".join(rest[j + 1:]).split(",") if c.strip()]
                rest = rest[:j]
                break
        opts = {}
        if rest and rest[0].lower() in ("where", "options"):
            opts = parse_options(rest[1:])
        return SaveStmt(mode=mode, table=table, format=fmt, path=path,
                        options=opts, partition_by=partition_by)

    if head == "set":
        # set k = v [where|options ...]
        m = re.match(r"set\s+([\w.\-]+)\s*=\s*", stmt, re.IGNORECASE)
        if not m:
            raise ValueError(f"bad set statement: {stmt[:80]}")
        key = m.group(1)
        rest_text = stmt[m.end():]
        # value: quoted / block / backtick token, else raw text up to
        # trailing "where/options k=v ..." clause
        opts: dict[str, str] = {}
        value: str
        if rest_text[:1] in "'\"`" or rest_text.startswith("'''"):
            vtoks = tokenize(rest_text)
            value = unquote(vtoks[0])
            tail = vtoks[1:]
            if tail and tail[0].lower() in ("where", "options"):
                opts = parse_options(tail[1:])
        else:
            m2 = re.search(r"\s(?:where|options)\s", rest_text, re.IGNORECASE)
            if m2:
                value = rest_text[: m2.start()].strip()
                opts = parse_options(tokenize(rest_text[m2.end():]))
            else:
                value = rest_text.strip()
        return SetStmt(key=key, value=value, options=opts)

    if head == "connect":
        rest, alias = _strip_trailing_as(toks[1:])
        fmt = rest[0]
        opts = {}
        if len(rest) > 1 and rest[1].lower() in ("where", "options"):
            opts = parse_options(rest[2:])
        return ConnectStmt(format=fmt, options=opts, alias=alias or fmt)

    if head in ("train", "run", "predict"):
        table = toks[1]
        if toks[2].lower() != "as":
            raise ValueError(f"{head}: expected 'as', got {toks[2]!r}")
        alg, path, consumed = parse_ref(toks[3], toks[4] if len(toks) > 4 else None)
        rest = toks[3 + consumed:]
        rest, out = _strip_trailing_as(rest)
        opts = {}
        if rest and rest[0].lower() in ("where", "options"):
            opts = parse_options(rest[1:])
        return TrainStmt(verb=head, table=table, algorithm=alg, path=path,
                         options=opts, out_table=out)

    if head == "register":
        alg, path, consumed = parse_ref(toks[1], toks[2] if len(toks) > 2 else None)
        rest = toks[1 + consumed:]
        if not rest or rest[0].lower() != "as":
            raise ValueError(f"register: expected 'as <fn>': {stmt[:80]}")
        fn = rest[1]
        opts = {}
        if len(rest) > 2 and rest[2].lower() in ("where", "options"):
            opts = parse_options(rest[3:])
        return RegisterStmt(algorithm=alg, path=path, function=fn, options=opts)

    if head == "include":
        fmt, path, consumed = parse_ref(toks[1], toks[2] if len(toks) > 2 else None)
        rest = toks[1 + consumed:]
        opts = {}
        if rest and rest[0].lower() in ("where", "options"):
            opts = parse_options(rest[1:])
        return IncludeStmt(format=fmt, path=path, options=opts)

    return RawSqlStmt(sql=stmt)


# ---------------------------------------------------------------------------
# static walk: the one statement walker behind validate, analyze and auth
# ---------------------------------------------------------------------------

#: include nesting limit, at runtime and in the static walk
#: (reference ScriptSQLExec.scala:95-109)
MAX_INCLUDE_DEPTH = 10


@dataclass
class Walked:
    """One statement as the static walk reaches it."""
    index: int                  # top-level statement number (the include's,
                                # for statements spliced from an include)
    raw: str                    # text before ${var} substitution
    text: str                   # text after substitution
    stmt: Parsed | None         # None when parsing failed
    error: Exception | None = None


def walk(script: str, env: dict[str, str], fetch_include=None):
    """Yield every statement of ``script`` the way execution reaches it,
    without running any (reference passes A-D over one walker,
    ScriptSQLExec.scala:80-148).

    ``${var}`` is merged against a running copy of ``env``, and each
    ``set`` binds with execution's rule: overwrite, except
    ``type=defaultParam``.  A ``type=sql`` or ``type=shell`` ``set``
    unbinds its variable instead: its value is a result only execution
    knows, so a later ``${var}`` stays literal.  A parse failure is
    yielded, not raised.
    Given ``fetch_include(stmt, env)``, includes are spliced in place,
    at most ``MAX_INCLUDE_DEPTH`` deep; an include that cannot be
    resolved before runtime (the fetcher raises OSError or ValueError)
    is yielded unchanged.  ``!if`` branches are
    not evaluated: every branch is yielded."""
    env = dict(env)

    def statements(text: str, depth: int, index: int | None):
        for i, raw in enumerate(split_statements(text)):
            top = i if index is None else index
            merged = template_merge(raw, env)
            try:
                stmt = parse_statement(merged)
            except Exception as e:
                # short statements raise IndexError in the token walkers
                yield Walked(top, raw, merged, None, e)
                continue
            if isinstance(stmt, SetStmt):
                typ = stmt.options.get("type")
                if typ in ("sql", "shell"):
                    # bound to a result only execution knows: the
                    # variable stays unbound, like a runtime one
                    env.pop(stmt.key, None)
                elif typ == "defaultParam":
                    env.setdefault(stmt.key, stmt.value)
                else:
                    env[stmt.key] = stmt.value
            elif (isinstance(stmt, IncludeStmt) and fetch_include is not None
                  and depth < MAX_INCLUDE_DEPTH):
                try:
                    body = fetch_include(stmt, env)
                except (OSError, ValueError):
                    pass
                else:
                    yield from statements(body, depth + 1, top)
                    continue
            yield Walked(top, raw, merged, stmt)

    yield from statements(script, 0, None)
