"""Datasource registry: format name → load/save implementation.

Reference: streaming/core/datasource/DataSourceRegistry.scala:30-86
(classpath-scanned registry keyed by format; unregistered formats fall
back to ``reader.format(fmt).load(path)`` — LoadAdaptor.scala:123-130).
Save modes + partitionBy + fileNum: SaveAdaptor.scala:62-132.
Stream sink contract (mode/duration/checkpointLocation, trigger,
queryName): streaming/core/datasource/MLSQLBaseStreamSource.scala:19-89.
"""

from __future__ import annotations

import hashlib
import os
import stat
import time
import weakref
from typing import TYPE_CHECKING, Callable, NamedTuple

from pyspark.sql import functions as F

from streamingpro_spark.operators.base import local_table
from streamingpro_spark.sources import fsio

if TYPE_CHECKING:
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType
    from streamingpro_spark.context import ExecutionContext
    from streamingpro_spark.parser import SaveStmt

# formats that are inherently streaming sources when loaded under a
# `set streamName=...` script (LoadAdaptor.scala:72-78,142-144)
_STREAM_FORMATS = {"kafka", "socket", "rate", "mockStream", "streamParquet"}

_FILE_FORMATS = {"csv", "json", "parquet", "orc", "text", "xml", "libsvm",
                 "image", "binaryFile", "avro", "delta"}

LoaderFn = Callable[["ExecutionContext", str, dict], "DataFrame"]
_LOADERS: dict[str, LoaderFn] = {}


def register_loader(fmt: str):
    def deco(fn: LoaderFn) -> LoaderFn:
        _LOADERS[fmt] = fn
        return fn
    return deco


# ---------------------------------------------------------------------------
# load
# ---------------------------------------------------------------------------

def load_source(ctx: "ExecutionContext", fmt: str, path: str,
                options: dict[str, str]) -> "DataFrame":
    if fmt in _LOADERS:
        df = _LOADERS[fmt](ctx, path, options)
    elif fmt in _FILE_FORMATS:
        df = _load_file(ctx, fmt, path, options)
    else:
        # fallback: trust Spark's own source registry (LoadAdaptor.scala:123-130)
        reader = ctx.spark.readStream if _wants_stream(ctx, fmt) else ctx.spark.read
        try:
            df = reader.format(fmt).options(**_spark_opts(options)).load(path)
        except Exception as e:
            if ("SparkClassNotFound" in str(e)
                    or "DATA_SOURCE_NOT_FOUND" in str(e)):
                known = sorted(set(_LOADERS) | _FILE_FORMATS)
                raise ValueError(
                    f"unknown load format {fmt!r} — not a registered engine "
                    f"format ({', '.join(known)}) and no Spark datasource of "
                    f"that name on the classpath (add the connector jar)"
                ) from None
            raise
    df = _post_load(ctx, df, options)
    # load rewrite chain (reference LoadAdaptor.scala:132-136 — plugin
    # DF→DF rewriters for row filters / column masks): each hook gets
    # (ctx, fmt, path, df) and returns the df to use
    for hook in ctx.load_hooks:
        df = hook(ctx, fmt, path, df)
    return df


def _wants_stream(ctx: "ExecutionContext", fmt: str) -> bool:
    return ctx.is_stream() and fmt in _STREAM_FORMATS


def _spark_opts(options: dict[str, str]) -> dict[str, str]:
    skip = {"eventTimeCol", "delayThreshold", "valueFormat", "valueSchema",
            "directQuery", "prePtnArray", "prePtnDelimiter", "fileNum",
            "bucketBy", "sortBy", "repartitionBy", "sortWithinPartitions"}
    return {k: v for k, v in options.items() if k not in skip}


def _post_load(ctx: "ExecutionContext", df: "DataFrame",
               options: dict[str, str]) -> "DataFrame":
    """Watermark + kafka-style value decode (LoadAdaptor.scala:146-203)."""
    value_format = options.get("valueFormat")
    if value_format:
        from streamingpro_spark.sources.value_parser import decode_value
        df = decode_value(df, value_format, options.get("valueSchema", ""))
    if "eventTimeCol" in options:
        from streamingpro_spark.streaming.watermark import apply_watermark
        df = apply_watermark(df, options["eventTimeCol"],
                             options.get("delayThreshold", "0 seconds"))
    return df


#: per-SparkSession parquet schema memo: (paths, reader options) →
#: _SchemaEntry.  Weak keys, so a stopped session's entries go with it.
#: An entry is replaced whole and checked against a fresh listing on
#: every use, so concurrent loads need no lock: a lost update is a miss.
_SCHEMAS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
#: entries per session; a session past this starts its memo over
_SCHEMAS_MAX = 1024
#: a listing whose newest file is younger than this is not memoized: a
#: same-size rewrite within one mtime tick (a kernel jiffy on ext4/xfs,
#: 2 s on FAT) would keep the listing, so the entry could go stale
_RACY_NS = 2_000_000_000
#: reads TIMESTAMP(NANOS) parquet columns as long; set only while
#: `read_parquet` infers a schema that has such columns
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


class _SchemaEntry(NamedTuple):
    listing: str
    conf: str
    nanos: list[str]
    schema: "StructType"


def _listing(paths: list[str]) -> str | None:
    """Digest of every file under `paths`, each as (path relative to
    its root, size, mtime_ns); None when the read is not memoizable:
    a non-local scheme (a remote listing costs about what Spark's own
    does), a glob, a missing path, or a file younger than _RACY_NS."""
    h = hashlib.blake2b(digest_size=16)
    start, newest = time.time_ns(), 0
    try:
        for p in paths:
            if not fsio.is_local(p) or any(c in p for c in "*?[{"):
                return None
            root = os.path.abspath(fsio.local_path(p))
            st = os.stat(root)
            files = [("", st.st_size, st.st_mtime_ns)]
            if stat.S_ISDIR(st.st_mode):
                files = []
                for d, _, names in os.walk(root, followlinks=True):
                    for n in names:
                        f = os.path.join(d, n)
                        fst = os.stat(f)
                        files.append((os.path.relpath(f, root),
                                      fst.st_size, fst.st_mtime_ns))
                files.sort()
            h.update(repr((root, files)).encode())
            newest = max([newest, *(m for _, _, m in files)])
    except OSError:
        return None
    return h.hexdigest() if start - newest >= _RACY_NS else None


def _conf_digest(spark) -> str:
    """Digest of the session's explicitly set SQL conf (one py4j call):
    any conf that can change an inferred schema is in it once set."""
    text = spark._jsparkSession.conf().getAll().toString()
    return hashlib.blake2b(text.encode(), digest_size=16).hexdigest()


def read_parquet(spark, paths: list[str],
                 options: dict[str, str]) -> "tuple[DataFrame, list[str]]":
    """Every engine parquet read: (the batch read of `paths`, its
    TIMESTAMP(NANOS) columns), those columns read as long — apply
    `nanos_shim` to the read, or to a stream over the same files.

    Spark infers a parquet schema with a job per read.  The schema, the
    nanos columns, a digest of the file listing and of the session's
    set SQL conf are kept per session under (paths, options); a read
    whose listing and conf both match is given the stored schema and
    runs no job.  Any other read infers, and replaces the entry when
    its listing is memoizable (see `_listing`)."""
    opts = _spark_opts(options)
    key = (tuple(paths), tuple(sorted(opts.items())))
    reader = spark.read.options(**opts)
    memo = _SCHEMAS.setdefault(spark, {})
    listing = _listing(paths)
    if listing is not None:
        entry = memo.get(key)
        if entry is not None and entry.listing == listing \
                and entry.conf == _conf_digest(spark):
            return reader.schema(entry.schema).parquet(*paths), entry.nanos
    nanos = _nanos_timestamp_cols(
        paths, opts.get("mergeSchema", "").lower() == "true")
    if nanos:
        # Spark rejects TIMESTAMP(NANOS) unless this conf is on; it is
        # on only while inferring, so the caller's own reads keep their
        # conf, and a read given the inferred schema needs no conf
        prior = spark.conf.getAll.get(_NANOS_AS_LONG)
        spark.conf.set(_NANOS_AS_LONG, "true")
        try:
            schema = reader.parquet(*paths).schema
        finally:
            if prior is None:
                spark.conf.unset(_NANOS_AS_LONG)
            else:
                spark.conf.set(_NANOS_AS_LONG, prior)
        df = reader.schema(schema).parquet(*paths)
    else:
        df = reader.parquet(*paths)
    conf = _conf_digest(spark) if listing is not None else ""
    if listing is not None:
        if len(memo) >= _SCHEMAS_MAX:
            memo.clear()
        memo[key] = _SchemaEntry(listing, conf, nanos, df.schema)
    return df, nanos


def nanos_shim(df: "DataFrame", nanos: list[str]) -> "DataFrame":
    """TIMESTAMP(NANOS) columns, read as long, back to timestamps."""
    for c in nanos:
        # integer div — float division would lose precision on
        # 60-bit epoch-nanos values
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _ns_int64_cols_of(pf_schema) -> set[str]:
    """Columns of one parquet footer stored as INT64 TIMESTAMP(NANOS).
    Physical INT64 excludes INT96 (Spark's default writer output, read
    natively — the long-div shim would corrupt it); the logical-type
    check excludes micro/millis INT64 timestamps."""
    out: set[str] = set()
    for i in range(len(pf_schema)):
        c = pf_schema.column(i)
        lt = c.logical_type
        if (c.physical_type == "INT64" and lt is not None
                and lt.type == "TIMESTAMP"
                and "timeUnit=nanoseconds" in str(lt)):
            out.add(c.name)
    return out


def _nanos_timestamp_cols(paths: list[str],
                          merge_schema: bool = False) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark rejects them
    (PARQUET_TYPE_ILLEGAL) while other engines read them fine; we read
    them as long and convert (footer inspection via pyarrow,
    driver-side, memoized by `read_parquet` alone).

    Scope mirrors what Spark itself will read: without mergeSchema,
    Spark takes the schema of a single file, so candidates come from
    the first fragment's schema and are resolved against footers until
    each is seen (early exit — one footer in the common single-schema
    case).  With mergeSchema="true" Spark unions every footer, so a
    nanos column may first appear in ANY file — every footer is
    inspected (metadata-only reads, thread-pooled; the user already
    accepted all-footer cost by asking for mergeSchema)."""
    try:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        import pyarrow.types as pat
        datasets = [ds.dataset(p, format="parquet") for p in paths]
        files = [f for d in datasets for f in d.files]
        if merge_schema:
            from concurrent.futures import ThreadPoolExecutor
            if not files:
                return []
            with ThreadPoolExecutor(min(32, len(files))) as ex:
                sets = list(ex.map(
                    lambda f: _ns_int64_cols_of(
                        pq.ParquetFile(f).metadata.schema), files))
            return sorted(set().union(*sets))
        pending = {f.name for f in datasets[0].schema
                   if pat.is_timestamp(f.type) and f.type.unit == "ns"}
        resolved: set[str] = set()
        for f in files:
            if not pending:
                break
            pfs = pq.ParquetFile(f).metadata.schema
            ns64 = _ns_int64_cols_of(pfs)
            for name in set(pfs.names) & pending:
                pending.discard(name)
                if name in ns64:
                    resolved.add(name)
        return sorted(resolved)
    except Exception:
        return []


def _load_file(ctx: "ExecutionContext", fmt: str, path: str,
               options: dict[str, str]) -> "DataFrame":
    if fmt == "parquet" and "schema" not in options:
        if ctx.is_stream():
            return _load_stream_parquet(ctx, path, options)
        return nanos_shim(*read_parquet(
            ctx.spark, [ctx.resource_real_path(path)], options))
    real = ctx.resource_real_path(path)
    if ctx.is_stream() and fmt in ("parquet", "json", "csv", "text", "orc"):
        reader = ctx.spark.readStream
        if "schema" in options:
            reader = reader.schema(_parse_schema_opt(options["schema"]))
        else:
            # file stream sources need an explicit schema: infer from a
            # batch peek (test convenience; prod passes `schema`)
            reader = reader.schema(ctx.spark.read.format(fmt).options(
                **_spark_opts(options)).load(real).schema)
        if os.path.isfile(real):
            reader = reader.option("pathGlobFilter", os.path.basename(real))
            real = os.path.dirname(real)
        return reader.format(fmt).options(**_spark_opts(options)).load(real)
    reader = ctx.spark.read.format(fmt).options(**_spark_opts(options))
    if "schema" in options:
        reader = reader.schema(_parse_schema_opt(options["schema"]))
    try:
        return reader.load(real)
    except Exception as e:
        if "SparkClassNotFound" in str(e) or "DATA_SOURCE_NOT_FOUND" in str(e):
            raise ValueError(
                f"unknown load format {fmt!r} — not a registered engine "
                f"format and no Spark datasource of that name on the "
                f"classpath (add the connector jar, or see the registered "
                f"formats in sources/registry.py)") from None
        raise


def _parse_schema_opt(spec: str):
    """`schema` load option: DDL string (`a int, b string`) or the
    reference's st(...) DSL (LoadAdaptor.scala:167-199 uses it for
    kafka value decode; accepted here for any source)."""
    if spec.strip().startswith("st("):
        from streamingpro_spark.sources.value_parser import parse_schema_dsl
        return parse_schema_dsl(spec.strip())
    return spec


@register_loader("streamParquet")
def _load_stream_parquet(ctx, path, options):
    real = ctx.resource_real_path(path)
    peek, nanos = read_parquet(ctx.spark, [real], options)
    # forward reader options (e.g. maxFilesPerTrigger for multi-batch
    # replay, latestFirst) — engine-level keys are filtered out
    reader = ctx.spark.readStream.schema(peek.schema) \
        .options(**_spark_opts(options))
    if os.path.isfile(real):
        # FileStreamSource requires a directory; select the single file
        # via pathGlobFilter on its parent
        reader = reader.option("pathGlobFilter", os.path.basename(real))
        real = os.path.dirname(real)
    return nanos_shim(reader.parquet(real), nanos)


@register_loader("warc")
def _load_warc(ctx, path, options):
    """WARC/WET source (ISO 28500 — the Common Crawl container):
    `load warc.`crawl/*.warc[.gz]` as pages` → one row per record
    (path, record_type, target_uri, warc_date, content_length,
    content bytes, text).  Plain and member-per-record gzip streams
    both parse; `recordType` filters (e.g. "conversion" for WET).
    Scale: binaryFile scan (one task per file — WARC files are the
    ~1 GB parallelism unit of a crawl) + a map-only Arrow split; no
    shuffle.  Records stream out of the task in BOUNDED pandas
    batches (`maxRecordsPerBatch` rows / `maxBytesPerBatch` payload
    bytes, whichever trips first) — a whole decoded archive (3-5x the
    .gz size) never materializes as one batch, which also stays clear
    of Arrow's 2 GB per-batch limits.  `textDecode="false"` skips the
    decoded-str copy (text column null) for binary-consumer flows,
    halving the per-record footprint when only `content` is needed.

    `httpDecode="true"` splits the HTTP envelope that WARC *response*
    records carry (status line + headers + blank line + body — the
    raw-crawl layout, vs WET's bare text): adds http_status /
    http_content_type columns, and `text` becomes the decoded BODY
    (content keeps the full raw payload).  Records without an HTTP
    envelope (WET conversions, metadata) pass through with null
    status and whole-payload text."""
    from pyspark.sql import types as T
    from streamingpro_spark.functions.warc import make_warc_record_iter
    rec_iter = make_warc_record_iter()    # nested fn → by-value pickling
    want_type = options.get("recordType")
    text_decode = options.get("textDecode", "true").lower() != "false"
    http_decode = options.get("httpDecode", "").lower() == "true"
    max_recs = int(options.get("maxRecordsPerBatch", "2000"))
    max_bytes = int(options.get("maxBytesPerBatch", str(64 << 20)))
    real = ctx.resource_real_path(path)
    files = ctx.spark.read.format("binaryFile").load(real)
    fields = [
        T.StructField("path", T.StringType()),
        T.StructField("record_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("text", T.StringType()),
    ]
    if http_decode:
        fields += [T.StructField("http_status", T.IntegerType()),
                   T.StructField("http_content_type", T.StringType())]
    out_schema = T.StructType(fields)
    cols = [f.name for f in out_schema]

    def split(batches):
        import pandas as pd

        def http_split(payload):
            # (status, content_type, body) — None status when the
            # payload carries no HTTP envelope
            if not payload.startswith(b"HTTP/"):
                return None, None, payload
            he = payload.find(b"\r\n\r\n")
            he_len = 4
            alt = payload.find(b"\n\n")
            if he == -1 or (alt != -1 and alt < he):
                he, he_len = alt, 2
            if he == -1:
                return None, None, payload
            head = payload[:he].decode("utf-8", "replace")
            lines = head.splitlines()
            try:
                status = int(lines[0].split()[1])
            except (IndexError, ValueError):
                return None, None, payload
            ctype = None
            for ln in lines[1:]:
                if ln.lower().startswith("content-type:"):
                    ctype = ln.split(":", 1)[1].strip()
                    break
            return status, ctype, payload[he + he_len:]

        for pdf in batches:
            for p, c in zip(pdf["path"], pdf["content"]):
                rows, nbytes = [], 0
                for r in rec_iter(c):
                    if want_type and r["record_type"] != want_type:
                        continue
                    body = r["content"]
                    if http_decode:
                        status, ctype, hbody = http_split(body)
                        rows.append((p, r["record_type"],
                                     r["target_uri"], r["warc_date"],
                                     r["content_length"], body,
                                     hbody.decode("utf-8", "replace")
                                     if text_decode else None,
                                     status, ctype))
                    else:
                        rows.append((p, r["record_type"],
                                     r["target_uri"], r["warc_date"],
                                     r["content_length"], body,
                                     body.decode("utf-8", "replace")
                                     if text_decode else None))
                    nbytes += len(body)
                    if len(rows) >= max_recs or nbytes >= max_bytes:
                        yield pd.DataFrame(rows, columns=cols)
                        rows, nbytes = [], 0
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(split, out_schema)


def _save_warc(ctx, df, real: str, mode: str, options: dict) -> None:
    """WARC/WET sink — the loader's inverse: `save overwrite curated as
    warc.`/crawl/out``.  One `.warc[.gz]` archive PER PARTITION (the
    crawl parallelism unit, mirroring the loader's 1 file = 1 task),
    written executor-side and ENCODED RECORD-BY-RECORD (member-per-
    record gzip, the Common Crawl layout) — peak memory per task is one
    record, never the whole partition (the same boundedness contract
    the round-6 loader rework established).

    Payload column: `contentCol` option, else `content` (binary), else
    `text` (utf-8 encoded).  `target_uri`/`record_type`/`warc_date`
    columns are used when present (options `recordType`/`warcDate`
    override the defaults for absent columns; uri falls back to
    record:<row#>).  Modes: overwrite | append | errorIfExists |
    ignore.  All filesystem traffic goes through `sources/fsio.py`
    (pyarrow.fs): plain paths and file: URIs today, HDFS/S3 at deploy
    with the same code — executor-side Python has no py4j gateway, so
    pyarrow.fs IS the Hadoop-FS seam there.  Every archive lands via
    write-to-temp + rename (fsio.open_output_atomic): a killed task
    never leaves a half-written .warc under its final name, and a
    speculative retry's rename is last-writer-wins."""
    import time as _time
    from streamingpro_spark.sources import fsio
    cols = set(df.columns)
    payload_col = options.get("contentCol") or \
        ("content" if "content" in cols else "text")
    if payload_col not in cols:
        raise ValueError(
            f"warc sink: no payload column — expected `content` or "
            f"`text` (or contentCol=...) among {sorted(cols)}")
    real = real.rstrip("/")
    if fsio.is_local(real):
        # collapse file:// and Hadoop-style single-slash file:/p URIs
        # to the plain path HERE, before the executor closure captures
        # `real` — the closure's scheme check is `"://" in fn`, so an
        # un-normalized `file:/p` would pass the driver-side fsio
        # checks yet make executors write to a literal ./file:/p
        real = fsio.local_path(real)
    archives = [f for f in fsio.listdir(real)
                if f.endswith((".warc", ".warc.gz"))]
    if archives:
        if mode == "ignore":
            return
        if mode in ("error", "errorifexists"):
            raise ValueError(
                f"warc sink: {real!r} already holds archives "
                f"(mode errorIfExists)")
        if mode == "overwrite":
            # remove only the artifacts the sink owns (*.warc/*.warc.gz)
            # — deleting the whole directory would take unrelated files
            # that happen to live alongside the archives
            for f in archives:
                fsio.delete_file(f"{real}/{f}")
    if mode == "overwrite":
        # also reclaim orphaned write temps from hard-killed tasks
        # (part-*.inprogress-*) — the old rmtree removed these; the
        # targeted delete above must not let them accumulate forever
        for f in fsio.listdir(real):
            if f.startswith("part-") and ".inprogress-" in f:
                fsio.delete_file(f"{real}/{f}")
    fsio.makedirs(real)
    compress = options.get("compress", "true").lower() != "false"
    rtype_default = options.get("recordType", "conversion")
    date_default = options.get(
        "warcDate",
        _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime()))
    uri_col = "target_uri" if "target_uri" in cols else None
    rtype_col = "record_type" if "record_type" in cols else None
    date_col = "warc_date" if "warc_date" in cols else None
    sel = [payload_col] + [c for c in (uri_col, rtype_col, date_col) if c]
    from streamingpro_spark.functions.warc import make_warc_encoder
    enc = make_warc_encoder()
    # unique per save so append never collides with an earlier save's
    # part files (uuid, not a timestamp — two same-millisecond appends
    # from one process must not overwrite each other); partition id
    # keeps names stable within the job
    import uuid as _uuid
    run_tag = _uuid.uuid4().hex[:12]
    suffix = ".warc.gz" if compress else ".warc"

    def write_part(batches):
        # executor-side: pyarrow.fs only (no streamingpro_spark import
        # — the closure must pickle by value).  Same protocol as
        # fsio.open_output_atomic: temp stream, rename on clean close,
        # delete on failure.
        import uuid as _u
        import pandas as pd
        import pyarrow.fs as _pafs
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        fn = f"{real}/part-{run_tag}-{pid:05d}{suffix}"
        if "://" in fn:
            _fs, _p = _pafs.FileSystem.from_uri(fn)
        else:
            _fs, _p = _pafs.LocalFileSystem(), fn
        tmp = f"{_p}.inprogress-{_u.uuid4().hex[:12]}"
        n = 0
        fh = None
        try:
            for pdf in batches:
                for i in range(len(pdf)):
                    payload = pdf[payload_col].iloc[i]
                    if payload is None:
                        continue
                    if fh is None:
                        # open on first WRITE, not first row — an
                        # all-null partition leaves no empty archive
                        fh = _fs.open_output_stream(tmp)
                    if isinstance(payload, str):
                        payload = payload.encode("utf-8")
                    # null header cells fall back to the defaults —
                    # never the string "None" in a wire header
                    uri = ((uri_col and pdf[uri_col].iloc[i])
                           or f"record:{pid}-{n}")
                    rtype = ((rtype_col and pdf[rtype_col].iloc[i])
                             or rtype_default)
                    date = ((date_col and pdf[date_col].iloc[i])
                            or date_default)
                    # one record at a time: bounded memory, and under
                    # compress each record is its own gzip member
                    fh.write(enc([(rtype, uri, date, bytes(payload))],
                                 gzip_compress=compress))
                    n += 1
        except BaseException:
            if fh is not None:
                fh.close()
                try:
                    _fs.delete_file(tmp)
                except Exception:
                    pass
            raise
        else:
            if fh is not None:
                fh.close()
                # the rename IS the commit: a killed/retried task never
                # leaves a partial archive under the final name
                _fs.move(tmp, _p)
        yield pd.DataFrame({"file": [fn if n else ""], "records": [n]})

    # the collect() IS the action that runs the distributed write; the
    # tiny per-partition summary is discarded (all-null partitions
    # write no file at all — see the lazy open above)
    df.select(*sel).mapInPandas(
        write_part, "file string, records long").collect()


@register_loader("hive")
def _load_hive(ctx, path, options):
    return ctx.spark.table(path)


@register_loader("table")
def _load_table(ctx, path, options):
    return ctx.spark.table(path)


@register_loader("jsonStr")
def _load_json_str(ctx, path, options):
    """Inline JSON lines held in a `set` variable (MLSQLJSonStr.scala:12-40)."""
    content = ctx.env.get(path)
    if content is None:
        raise KeyError(f"jsonStr.`{path}`: no such variable")
    lines = [ln for ln in content.splitlines() if ln.strip()]
    return ctx.spark.read.json(ctx.spark.sparkContext.parallelize(lines))


@register_loader("crawlersql")
def _load_crawlersql(ctx, path, options):
    """Fetch a page as a table (reference MLSQLCrawlerSql.scala /
    tech/mlsql/crawler): `load crawlersql.`<url>` as page` yields
    (url, html, title, body).  Driver-side single fetch — a page, not a
    dataset (the reference is the same shape); file:// URLs work
    offline, so the plumbing is testable without network.  For link
    expansion compose with the crawler_* UDF family."""
    import re as _re
    import urllib.request
    timeout = int(options.get("timeout", "10"))
    try:
        with urllib.request.urlopen(path, timeout=timeout) as r:  # noqa: S310
            html = r.read().decode("utf-8", "replace")
    except Exception as e:
        raise ValueError(f"crawlersql: fetch failed for {path!r}: {e}") from None
    m = _re.search(r"<title[^>]*>(.*?)</title>", html, _re.S | _re.I)
    title = m.group(1).strip() if m else None
    body = _re.sub(r"<head[^>]*>.*?</head>", " ", html,
                   flags=_re.S | _re.I)
    body = _re.sub(r"<(script|style)[^>]*>.*?</\1>", " ", body,
                   flags=_re.S | _re.I)
    body = _re.sub(r"<[^>]+>", " ", body)
    body = _re.sub(r"\s+", " ", body).strip() or None
    return local_table(
        ctx.spark, [(path, html, title, body)],
        "url: string, html: string, title: string, body: string")


@register_loader("csvStr")
def _load_csv_str(ctx, path, options):
    content = ctx.env.get(path)
    if content is None:
        raise KeyError(f"csvStr.`{path}`: no such variable")
    lines = [ln for ln in content.splitlines() if ln.strip()]
    rdd = ctx.spark.sparkContext.parallelize(lines)
    reader = ctx.spark.read.options(**_spark_opts(options))
    return reader.csv(rdd)


@register_loader("script")
def _load_script(ctx, path, options):
    content = ctx.env.get(path, "")
    return local_table(ctx.spark, [(path, content)], "name: string, content: string")


@register_loader("jdbc")
def _load_jdbc(ctx, path, options):
    """JDBC with `connect` option merge + directQuery pushdown
    (MLSQLJDBC.scala; MLSQLDirectJDBC.scala:55-82)."""
    opts = dict(options)
    table = path
    if "." in path:
        db, table = path.split(".", 1)
        meta = ctx.connect_meta.get(("jdbc", db))
        if meta:
            opts = {**meta, **opts}
    reader = ctx.spark.read.format("jdbc")
    if opts.pop("directQuery", "").lower() == "true" or "sql" in opts:
        # pushdown via Spark's `query` option — its generated subquery
        # alias is portable (a hand-rolled `(...) __x` alias trips DBs
        # that reject leading-underscore identifiers, e.g. Derby)
        sql = opts.pop("sql", None)
        if not sql:
            raise ValueError(
                'directQuery="true" requires a `sql` option with the '
                "pushdown query text")
        opts.pop("dbtable", None)
        reader = reader.option("query", sql)
    else:
        reader = reader.option("dbtable", opts.pop("dbtable", table))
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


@register_loader("mockStream")
def _load_mock_stream(ctx, path, options):
    """Replay a batch table as a stream (reference MLSQLMockStream.scala:10-40
    + MockStreamSource.scala: emits offset windows of a batch table per
    trigger).  PySpark has no custom-Source API, so we drive row emission
    with the `rate` source joined to a row-numbered copy of the batch
    table (stream-static equi-join, stateless)."""
    from pyspark.sql import Window
    batch = ctx.spark.table(path)
    step = options.get("stepSizeRange", "0-3").split("-")[-1]
    rows_per_sec = max(int(step), 1)
    # constant-order window: monotonically_increasing_id is rejected
    # anywhere in a streaming plan, even on the static join side
    w = Window.orderBy(F.lit(0))
    indexed = batch.withColumn("__idx", F.row_number().over(w) - 1)
    rate = ctx.spark.readStream.format("rate") \
        .option("rowsPerSecond", str(rows_per_sec)).load()
    return (rate.join(indexed, rate["value"] == indexed["__idx"])
                .drop("value", "timestamp", "__idx"))


@register_loader("_mlsql_")
def _load_system_table(ctx, path, options):
    """Engine introspection tables (MLSQLSystemTables.scala:19-70)."""
    spark = ctx.spark
    if path in ("jobs", "jobs/list"):
        rows = [(k, str(v)) for k, v in ctx.jobs.items()]
        return local_table(spark, rows, "name: string, info: string")
    if path == "datasources":
        fmts = sorted(set(_LOADERS) | _FILE_FORMATS)
        return local_table(spark, [(f,) for f in fmts], "format: string")
    if path.startswith("datasources/params/"):
        fmt = path.rsplit("/", 1)[-1]
        return local_table(spark, [(fmt, "path", "string")],
                           "format: string, param: string, type: string")
    if path == "tables":
        ts = [(t.name, t.tableType) for t in spark.catalog.listTables()]
        return local_table(spark, ts, "name: string, type: string")
    if path == "env":
        return local_table(spark, list(ctx.env.items()), "k: string, v: string")
    raise ValueError(f"unknown system table: _mlsql_.`{path}`")


@register_loader("versionedParquet")
def _load_versioned_parquet(ctx, path, options):
    """Time travel over plain parquet (native Delta fallback — see
    sources/versioned.py)."""
    from streamingpro_spark.sources.versioned import load as vp_load
    return vp_load(ctx, path, options)


@register_loader("mlsqlAPI")
def _load_mlsql_api(ctx, path, options):
    """REST surface description table (reference
    MLSQLSystemTables.scala:19-70 `mlsqlAPI`)."""
    rows = [("/run/script", "POST", "execute a script (sql/owner/async/"
             "timeout/includeSchema/fetchType/executeMode)"),
            ("/runningjobs", "GET", "running jobs + per-statement progress"),
            ("/killjob", "POST", "cancel a job group by id or name"),
            ("/health", "GET", "liveness"),
            ("/upload_file", "POST", "stage a file on the server"),
            ("/download", "GET", "stream a staged file back")]
    return local_table(
        ctx.spark, rows, "path: string, method: string, description: string")


@register_loader("mlsqlConf")
def _load_mlsql_conf(ctx, path, options):
    """Engine + Spark conf dump (reference MLSQLSystemTables.scala
    `mlsqlConf`)."""
    rows = [(k, v) for k, v in ctx.spark.sparkContext.getConf().getAll()]
    rows += [(f"env.{k}", v) for k, v in ctx.env.items()]
    return local_table(ctx.spark, rows, "k: string, v: string")


@register_loader("unStructured")
def _load_unstructured(ctx, path, options):
    """Raw files as rows (reference
    tech/mlsql/datasource/impl/MLSQLUnStructured.scala) — the binaryFile
    reader carries path/modificationTime/length/content."""
    return (ctx.spark.read.format("binaryFile")
            .options(**_spark_opts(options))
            .load(ctx.resource_real_path(path)))


@register_loader("model")
def _load_model_explain(ctx, path, options):
    """`load model.`alg`` / modelParams/modelList self-describe tables
    (streaming/dsl/load/batch/ModelExplain.scala:44-80)."""
    from streamingpro_spark.operators.registry import explain_algorithm
    return explain_algorithm(ctx.spark, path)


@register_loader("modelParams")
def _load_model_params(ctx, path, options):
    from streamingpro_spark.operators.registry import explain_algorithm
    return explain_algorithm(ctx.spark, path)


@register_loader("modelList")
def _load_model_list(ctx, path, options):
    from streamingpro_spark.operators.registry import list_algorithms
    return list_algorithms(ctx.spark)


@register_loader("modelExample")
def _load_model_example(ctx, path, options):
    """`load modelExample.`Alg`` — doc + code example table
    (ModelExplain.scala self-describe family)."""
    from streamingpro_spark.operators.registry import find_algorithm
    alg = find_algorithm(path)
    doc = getattr(alg, "doc", "") or f"{path}: see modelParams.`{path}`"
    example = getattr(alg, "code_example", "")
    return local_table(ctx.spark, [(path, doc, example)],
                       "name: string, doc: string, codeExample: string")


@register_loader("modelExplain")
def _load_model_explain_saved(ctx, path, options):
    """`load modelExplain.`/path/to/model`` — inspect a SAVED model dir:
    meta.json params + mllib stage metadata when present."""
    import glob as _glob
    import json as _json
    real = ctx.resource_real_path(path)
    rows: list[tuple[str, str]] = []
    meta_file = os.path.join(real, "meta.json")
    if os.path.exists(meta_file):
        with open(meta_file, encoding="utf-8") as f:
            for k, v in _json.load(f).items():
                rows.append((str(k), _json.dumps(v)))
    for mf in _glob.glob(os.path.join(real, "**", "metadata", "part-*"),
                         recursive=True):
        with open(mf, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    meta = _json.loads(line)
                    rows.append(("class", str(meta.get("class", ""))))
                    for k, v in (meta.get("paramMap") or {}).items():
                        rows.append((k, _json.dumps(v)))
    if not rows:
        rows = [("path", _json.dumps(real))]
    return local_table(ctx.spark, rows, "name: string, value: string")


# ---------------------------------------------------------------------------
# save
# ---------------------------------------------------------------------------

def save_sink(ctx: "ExecutionContext", stmt: "SaveStmt") -> None:
    df = ctx.spark.table(stmt.table)
    if df.isStreaming:
        _save_stream(ctx, df, stmt)
        return
    fmt = stmt.format
    # db/table names are NOT filesystem paths: home-prefixing
    # "mydb.users" would break the connect-meta lookup and saveAsTable
    _non_fs = fmt in ("jdbc", "hive", "table", "console", "kafka",
                      "es", "solr", "redis", "mongo")
    path = stmt.path if _non_fs else ctx.resource_real_path(stmt.path)
    options = stmt.options
    if "repartitionBy" in options:
        # column-keyed repartition (optionally with fileNum as the
        # partition count): co-locates each key's rows in one task, the
        # prerequisite for per-file ordering guarantees below
        rcols = [s.strip() for s in options["repartitionBy"].split(",")
                 if s.strip()]
        if not rcols:
            raise ValueError('repartitionBy needs "col[,col...]"')
        if "fileNum" in options:
            df = df.repartition(int(options["fileNum"]), *rcols)
        else:
            df = df.repartition(*rcols)
    elif "fileNum" in options:  # SaveAdaptor.scala:109-111
        df = df.repartition(int(options["fileNum"]))
    if "sortWithinPartitions" in options:
        # per-TASK sort before the write — no global shuffle, no range
        # exchange.  Spark only supports sortBy on the bucketBy managed-
        # table path (it needs the catalog to record the sort); for
        # plain path saves this is the way to get position-ORDERED
        # files: repartitionBy="shard" + sortWithinPartitions=
        # "shard_pos" makes every written file monotone in shard_pos,
        # so a sequential training loader needs no sort (round-10;
        # examples/15).
        scols = [s.strip()
                 for s in options["sortWithinPartitions"].split(",")
                 if s.strip()]
        if not scols:
            raise ValueError('sortWithinPartitions needs "col[,col...]"')
        df = df.sortWithinPartitions(*scols)
    if fmt == "console":
        df.show(int(options.get("numRows", "20")), truncate=False)
        return
    if fmt == "hive" or fmt == "table" or "bucketBy" in options:
        writer = df.write.mode(_norm_mode(stmt.mode))
        if fmt not in ("hive", "table"):
            writer = writer.format(fmt).options(**_spark_opts(options))
        if stmt.partition_by:
            writer = writer.partitionBy(*stmt.partition_by)
        if "bucketBy" in options:
            # bucketBy="8,join_key[,key2]" — hash-bucketed managed table;
            # two tables bucketed the same way join WITHOUT a shuffle
            # (the co-location strategy SCALE.md prescribes at 100 TB).
            # Bucketing requires saveAsTable (Spark catalog manages it).
            n, *cols = [s.strip() for s in options["bucketBy"].split(",")]
            if not cols:
                raise ValueError('bucketBy needs "numBuckets,col[,col...]"')
            writer = writer.bucketBy(int(n), *cols)
            if "sortBy" in options:
                writer = writer.sortBy(*[s.strip()
                                         for s in options["sortBy"].split(",")])
        writer.saveAsTable(path or stmt.path)
        return
    if fmt == "versionedParquet":
        from streamingpro_spark.sources.versioned import save as vp_save
        # inside a foreachBatch batchScript (custom sink), stamp the
        # commit with (txn, batchId) so a REPLAYED micro-batch — crash
        # between this save and the streaming checkpoint — skips its
        # duplicate append instead of double-committing (round-8: makes
        # the batchScript lake flow exactly-once, matching the native
        # versionedParquet streaming sink's contract)
        bid = ctx.env.get("__batch_id__")
        txn = ctx.env.get("__stream_txn__")
        vp_save(ctx, df, stmt.path, stmt.mode, options, stmt.partition_by,
                batch_id=int(bid) if bid is not None and txn else None,
                txn_id=txn, guard_double_write=True)
        return
    if fmt == "warc":
        _save_warc(ctx, df, path, _norm_mode(stmt.mode), options)
        return
    if fmt == "jdbc":
        opts = dict(options)
        table = path
        if "." in path:
            db, table = path.split(".", 1)
            meta = ctx.connect_meta.get(("jdbc", db))
            if meta:
                opts = {**meta, **opts}
        df.write.format("jdbc").options(**opts) \
          .option("dbtable", opts.get("dbtable", table)) \
          .mode(_norm_mode(stmt.mode)).save()
        return
    writer = df.write.format(fmt).options(**_spark_opts(options)) \
               .mode(_norm_mode(stmt.mode))
    if stmt.partition_by:
        writer = writer.partitionBy(*stmt.partition_by)
    writer.save(path)


def _norm_mode(mode: str) -> str:
    return {"errorifexists": "error"}.get(mode.lower(), mode.lower())


def _finalize_stream(ctx, writer, out_mode, ckpt, duration):
    """Shared stream-writer tail: output mode, checkpoint, queryName,
    trigger, start, job registration — one copy for every sink branch."""
    writer = (writer.outputMode(out_mode.lower())
              .option("checkpointLocation", ctx.resource_real_path(ckpt)))
    if ctx.stream_name:
        writer = writer.queryName(ctx.stream_name)
    if duration >= 0:
        writer = writer.trigger(processingTime=f"{duration} seconds")
    query = writer.start()
    ctx.jobs[ctx.stream_name or query.id] = query
    return query


def _save_stream(ctx: "ExecutionContext", df: "DataFrame", stmt: "SaveStmt") -> None:
    """Stream sink contract (MLSQLBaseStreamSource.scala:19-89): required
    keys duration + checkpointLocation; outputMode from `mode` option or
    the statement save-mode; queryName from streamName."""
    options = stmt.options
    ckpt = options.get("checkpointLocation")
    if not ckpt:
        raise ValueError("stream save requires checkpointLocation option")
    duration = int(options.get("duration", "10"))
    out_mode = options.get("mode") or ("append" if stmt.mode.lower() in
                                       ("errorifexists", "ignore") else stmt.mode)
    fmt = stmt.format
    if fmt == "custom" or "batchScript" in options:
        # foreachBatch running an MLSQL sub-script per micro-batch with the
        # batch registered as `__batch_df__` (+ `__batch_id__` env var) —
        # reference MLSQLForeachBatchRunner / MLSQLBaseStreamSource.scala:86-93
        script = options.get("batchScript", "")

        # txn key for exactly-once sinks inside the sub-script: the
        # query's checkpointLocation, same key the native
        # versionedParquet streaming sink uses
        batch_txn = ctx.resource_real_path(ckpt)

        def run_batch(batch_df, batch_id):
            from streamingpro_spark.engine import Engine
            batch_df.createOrReplaceTempView("__batch_df__")
            eng = Engine.for_child(batch_df.sparkSession, ctx)
            eng.context.env["__batch_id__"] = str(batch_id)
            eng.context.env["__stream_txn__"] = batch_txn
            eng.execute(script)

        _finalize_stream(ctx, df.writeStream.foreachBatch(run_batch),
                         out_mode, ckpt, duration)
        return
    if fmt == "versionedParquet":
        # delta-like streaming sink: one time-travel commit per
        # micro-batch (reference MLSQLDelta streaming save).  complete
        # mode re-emits the FULL result each batch → overwrite commit
        # (append would duplicate the state in every snapshot read);
        # the batch id makes replayed micro-batches exactly-once.
        vp_mode = ("overwrite" if out_mode.lower() == "complete"
                   else "append")

        vp_txn = ctx.resource_real_path(ckpt)

        def vp_batch(batch_df, batch_id):
            from streamingpro_spark.sources.versioned import save as vp_save
            vp_save(ctx, batch_df, stmt.path, vp_mode, options,
                    stmt.partition_by, batch_id=batch_id, txn_id=vp_txn)

        _finalize_stream(ctx, df.writeStream.foreachBatch(vp_batch),
                         out_mode, ckpt, duration)
        return
    if fmt == "newParquet":
        # overwrite-able file stream sink (reference NewFileStreamSink:
        # each micro-batch REPLACES the output — the plain parquet stream
        # sink is append-only)
        target = ctx.resource_real_path(stmt.path)

        def overwrite_batch(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(target)

        _finalize_stream(ctx, df.writeStream.foreachBatch(overwrite_batch),
                         out_mode, ckpt, duration)
        return
    if fmt == "warc":
        # streaming crawl export: one set of member-per-record archives
        # appended per micro-batch (at-least-once: a replayed batch
        # appends again — dedup downstream on target_uri if the
        # pipeline can replay; the versionedParquet sink is the
        # exactly-once alternative)
        target = ctx.resource_real_path(stmt.path)

        def warc_batch(batch_df, batch_id):
            _save_warc(ctx, batch_df, target, "append", options)

        _finalize_stream(ctx, df.writeStream.foreachBatch(warc_batch),
                         out_mode, ckpt, duration)
        return
    # webConsole is the reference's console-to-web-client sink
    # (MLSQLConsole.scala + web push); locally both land on the console
    writer = df.writeStream.format(
        "console" if fmt in ("console", "webConsole") else fmt)
    for k, v in _spark_opts(options).items():
        if k not in ("checkpointLocation", "duration", "mode"):
            writer = writer.option(k, v)
    if fmt in _FILE_FORMATS:
        writer = writer.option("path", ctx.resource_real_path(stmt.path))
    if stmt.partition_by:
        writer = writer.partitionBy(*stmt.partition_by)
    _finalize_stream(ctx, writer, out_mode, ckpt, duration)
