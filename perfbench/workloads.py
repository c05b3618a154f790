"""The benchmark's workloads: the MLSQL scripts each pass submits, the
state they run against, and the check of their outputs.

`relational` is pure SQL through the engine (no ET, no Python), with
fresh seeded TPC-H-style literals in every pass; its oracle is the same
SQL text run by DuckDB.  `lake_day` is the curated lake's day-2
increment, with its three `save append` statements, run against a
day-1 lake built during set-up and restored from a snapshot before each
pass; its oracle is the repository's own replay of the day-2 layout.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Script:
    name: str
    text: str
    #: SQL whose result the script's output must equal (relational only)
    oracle: str | None = None


def _loads(inputs: dict[str, str], tables: list[str]) -> str:
    return "\n".join(f"load parquet.`{inputs[t]}` as {t};" for t in tables)


def _day(start: str, rng: random.Random, span_days: int) -> str:
    import datetime as dt
    d = dt.date.fromisoformat(start) + dt.timedelta(days=rng.randrange(span_days))
    return d.isoformat()


def _region_year(rng: random.Random) -> dict:
    year = rng.randrange(1993, 1998)
    return {"region": rng.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            "year": year, "next_year": year + 1}


# ---------------------------------------------------------------------------
# relational: the repository's headline SQL queries with TPC-H-style
# substitution parameters.  Each parameter keeps the amount of work about
# the same from one draw to the next.
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Template:
    name: str
    tables: list[str]
    sql: str
    params: Callable[[random.Random], dict]
    #: DuckDB spelling when the dialects differ; else `sql` itself
    duck_sql: str | None = None


_SESSIONIZE = """
select user_id, session_id, count(*) as n_events,
       round(sum(value), 2) as session_value,
       max(tss) - min(tss) as duration_s
from (
  select user_id, tss, value,
         CAST(sum(new_sess) over (partition by user_id order by tss, event_id
                             rows between unbounded preceding and current row)
              AS BIGINT) as session_id
  from (
    select user_id, tss, value, event_id,
           case when lag(tss) over (partition by user_id order by tss, event_id) is null
                  or tss - lag(tss) over (partition by user_id order by tss, event_id) > {gap}
                then 1 else 0 end as new_sess
    from ({seconds}) base
  ) marked
) sessioned
group by user_id, session_id
"""

_WORDCOUNT = """
select token, cast(count(*) as bigint) as freq
from (select {split} as token from documents)
where token <> ''
group by token
order by freq desc, token
limit {top_n}
"""

RELATIONAL = [
    Template("q1", ["lineitem"], """
select l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) as sum_qty,
       round(sum(l_extendedprice), 2) as sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) as sum_charge,
       round(avg(l_quantity), 4) as avg_qty,
       round(avg(l_extendedprice), 4) as avg_price,
       round(avg(l_discount), 4) as avg_disc,
       count(*) as count_order
from lineitem
where l_shipdate <= timestamp '{cutoff} 00:00:00'
group by l_returnflag, l_linestatus
""", lambda r: {"cutoff": _day("1998-08-03", r, 61)}),
    Template("q3", ["customer", "orders", "lineitem"], """
select o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue,
       o.o_orderdate, o.o_orderpriority
from customer c
join orders o on c.c_custkey = o.o_custkey
join lineitem l on l.l_orderkey = o.o_orderkey
where c.c_mktsegment = '{segment}'
  and o.o_orderdate < timestamp '{day} 00:00:00'
  and l.l_shipdate > timestamp '{day} 00:00:00'
group by o.o_orderkey, o.o_orderdate, o.o_orderpriority
order by revenue desc, o_orderkey
limit 10
""", lambda r: {"segment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"]),
                "day": _day("1995-03-01", r, 31)}),
    Template("q5", ["region", "nation", "customer", "orders", "lineitem"], """
select n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue,
       count(*) as n_items
from region r
join nation n on n.n_regionkey = r.r_regionkey
join customer c on c.c_nationkey = n.n_nationkey
join orders o on o.o_custkey = c.c_custkey
join lineitem l on l.l_orderkey = o.o_orderkey
where r.r_name = '{region}'
  and o.o_orderdate >= timestamp '{year}-01-01 00:00:00'
  and o.o_orderdate < timestamp '{next_year}-01-01 00:00:00'
group by n.n_name
""", _region_year),
    Template("q9", ["part", "lineitem", "supplier", "orders", "nation"], """
select nation, o_year, CAST(round(sum(amount), 2) AS DOUBLE) as sum_profit
from (
  select n.n_name as nation, year(o.o_orderdate) as o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount)
              - 0.6 * p.p_retailprice * l.l_quantity AS DECIMAL(18, 4)) as amount
  from part p
  join lineitem l on p.p_partkey = l.l_partkey
  join supplier s on s.s_suppkey = l.l_suppkey
  join orders o on o.o_orderkey = l.l_orderkey
  join nation n on s.s_nationkey = n.n_nationkey
  where p.p_name like '%{noun}%'
) profit
group by nation, o_year
""", lambda r: {"noun": r.choice(["widget", "bolt", "gear", "spring", "valve",
                                  "panel", "frame", "lever"])}),
    Template("q21", ["supplier", "lineitem", "orders"], """
with flagged as (
  select l_orderkey, l_suppkey,
         case when l_shipdate > o_orderdate + interval {late_days} day then 1 else 0 end as is_late
  from lineitem join orders on o_orderkey = l_orderkey
  where o_orderstatus = 'F'
)
select s_name, cast(count(*) as bigint) as numwait
from flagged l1 join supplier on s_suppkey = l1.l_suppkey
where l1.is_late = 1
  and exists (select 1 from flagged l2
              where l2.l_orderkey = l1.l_orderkey and l2.l_suppkey <> l1.l_suppkey)
  and not exists (select 1 from flagged l3
                  where l3.l_orderkey = l1.l_orderkey and l3.l_suppkey <> l1.l_suppkey
                    and l3.is_late = 1)
group by s_name
order by numwait desc, s_name
limit 100
""", lambda r: {"late_days": r.randrange(80, 101)}),
    Template("top_customers_per_nation", ["customer"], """
select c_nationkey, c_custkey, c_name, round(c_acctbal, 2) as acctbal
from (
  select c_nationkey, c_custkey, c_name, c_acctbal,
         row_number() over (partition by c_nationkey
                            order by c_acctbal desc, c_custkey) as rn
  from customer
) t where rn <= {top_n}
""", lambda r: {"top_n": r.randrange(2, 6)}),
    Template("running_total", ["orders"], """
select o_custkey, o_orderkey,
       round(sum(o_totalprice) over (partition by o_custkey
             order by o_orderdate, o_orderkey
             rows between unbounded preceding and current row), 2) as running_total
from orders
where o_orderdate >= timestamp '{since} 00:00:00'
""", lambda r: {"since": _day("1992-01-01", r, 60)}),
    Template("events_tumbling", ["events"], """
select date_trunc('hour', ts) as hour_start, event_type,
       count(*) as n_events,
       cast(cast(sum(cast(value as decimal(18, 6))) as decimal(18, 2))
            as double) as sum_value,
       floor(cast(sum(cast(value as decimal(18, 6))) as double)
             / count(*) * 10000 + 0.5) / 10000 as avg_value
from events
where value >= {min_value}
group by date_trunc('hour', ts), event_type
""", lambda r: {"min_value": f"{r.randrange(0, 51) / 100:.2f}"}),
    Template(
        "events_sessionize", ["events"],
        _SESSIONIZE.replace("{seconds}", "select user_id, value, event_id, "
                            "unix_timestamp(ts) as tss from events"),
        lambda r: {"gap": r.randrange(1500, 2101)},
        duck_sql=_SESSIONIZE.replace("{seconds}", "select user_id, value, event_id, "
                                     "CAST(floor(epoch(ts)) AS BIGINT) as tss from events")),
    Template("events_asof_join", ["events"], """
select e.event_id, e.user_id,
       round(max_by(c.value, c.ts), 2) as asof_value
from (select * from events where event_type = 'error') e
join (select * from events where event_type = 'click') c
  on c.user_id = e.user_id and c.ts <= e.ts
 and c.ts > e.ts - interval {lookback_h} hour
group by e.event_id, e.user_id
""", lambda r: {"lookback_h": r.randrange(24, 49)}),
    Template(
        "wordcount_top20", ["documents"],
        _WORDCOUNT.replace("{split}", "explode(split(lower(text), '\\\\s+'))"),
        lambda r: {"top_n": r.randrange(15, 26)},
        duck_sql=_WORDCOUNT.replace("{split}",
                                    "unnest(string_split_regex(lower(text), '\\s+'))")),
]


@dataclass
class Relational:
    inputs: dict[str, str]
    seed: int
    #: relational scripts end in a select; a noop write forces each one
    force_noop: bool = True
    #: an untimed first pass, checked script by script, warms the
    #: session's codegen and plan caches
    warm_pass: bool = True

    def prepare(self, eng, state_dir: str) -> None:
        """Nothing to prepare: every script loads its own tables."""

    def before_pass(self) -> None:
        pass

    def scripts(self, pass_index: int) -> list[Script]:
        rng = random.Random(f"{self.seed}/relational/{pass_index}")
        order = list(RELATIONAL)
        rng.shuffle(order)
        out = []
        for t in order:
            params = t.params(rng)
            select = t.sql.format(**params).strip()
            out.append(Script(
                t.name,
                f"{_loads(self.inputs, t.tables)}\n{select} as output;",
                (t.duck_sql or t.sql).format(**params)))
        return out

    def verify(self, eng, con, script: Script) -> str | None:
        """Run the script again, collected, against DuckDB's answer."""
        got = eng.execute(script.text).toPandas()
        return compare_frames(got, con.execute(script.oracle).fetchdf())

    @staticmethod
    def templates() -> list[str]:
        """The scripts and oracles of a reference seed's first passes,
        so that a change to a template or to its parameters shows."""
        ref = Relational({t: t for tpl in RELATIONAL for t in tpl.tables}, 0)
        return [s.text + s.oracle for p in range(3) for s in ref.scripts(p)]


# ---------------------------------------------------------------------------
# lake_day: the repository's day-2 lake increment, with its three appends
# ---------------------------------------------------------------------------

#: day-2 documents get ids from 50,000,000 up; day 0 and day 1 stay below
DAY2_MIN_ID = 50_000_000


def _lake_day1_script(docs: str, lake: str, sigs: str, layout: str) -> str:
    from __spark_entry__ import _CURATE_GOPHER, _LAKE_BATCH1, _LAKE_DAY0
    return f"""
    load parquet.`{docs}` as documents;
    {_LAKE_DAY0} as ldi_raw0;
    run ldi_raw0 as TextNormalize.`` as ldi_n0;
    run ldi_n0 as GopherQualityFilter.`` where {_CURATE_GOPHER} as ldi_g0;
    select doc_id, text from ldi_g0 as ldi_day0;
    save overwrite ldi_day0 as versionedParquet.`{lake}`;
    run ldi_day0 as MinHashSignatures.`` as ldi_sigs0;
    save overwrite ldi_sigs0 as parquet.`{sigs}`;
    run ldi_day0 as DeterministicShard.`` where numShards="16" as ldi_l0;
    select doc_id, shard, shard_pos from ldi_l0 as ldi_l0s;
    save overwrite ldi_l0s as parquet.`{layout}`;

    {_LAKE_BATCH1} as ldi_b1;
    run ldi_b1 as TextNormalize.`` as ldi_n1;
    run ldi_n1 as GopherQualityFilter.`` where {_CURATE_GOPHER} as ldi_g1;
    select doc_id, text from ldi_g1 as ldi_c1;
    load versionedParquet.`{lake}` as ldi_hist0;
    run ldi_c1 as BloomFilterDedup.`` where refTable="ldi_hist0"
        as ldi_f1;
    load parquet.`{sigs}` as ldi_s0;
    run ldi_f1 as NearDedup.`` where refTable="ldi_hist0"
        and refBandsTable="ldi_s0" and threshold="0.8" as ldi_k1;
    save append ldi_k1 as versionedParquet.`{lake}`;
    run ldi_k1 as MinHashSignatures.`` as ldi_sigs1;
    save append ldi_sigs1 as parquet.`{sigs}`;
    load parquet.`{layout}` as ldi_prev0;
    run ldi_k1 as DeterministicShard.`` where numShards="16"
        and refTable="ldi_prev0" as ldi_l1;
    select doc_id, shard, shard_pos from ldi_l1 as ldi_l1s;
    save append ldi_l1s as parquet.`{layout}`;
    """


_DAY2_TEMPLATE = """
    load parquet.`{docs}` as documents;
    {batch2} as ldi_b2;
    run ldi_b2 as TextNormalize.`` as ldi_n2;
    run ldi_n2 as GopherQualityFilter.`` where {gopher} as ldi_g2;
    select doc_id, text from ldi_g2 as ldi_c2;
    !cache ldi_c2 script;
    load versionedParquet.`{lake}` as ldi_hist1;
    run ldi_c2 as BloomFilterDedup.`` where refTable="ldi_hist1"
        as ldi_f2;
    !cache ldi_f2 script;
    load parquet.`{sigs}` as ldi_s1;
    run ldi_f2 as NearDedup.`` where refTable="ldi_hist1"
        and refBandsTable="ldi_s1" and threshold="0.8" as ldi_k2;
    save append ldi_k2 as versionedParquet.`{lake}`;
    run ldi_k2 as MinHashSignatures.`` as ldi_sigs2;
    save append ldi_sigs2 as parquet.`{sigs}`;
    load parquet.`{layout}` as ldi_prev1;
    run ldi_k2 as DeterministicShard.`` where numShards="16"
        and refTable="ldi_prev1" as ldi_l2;
    select doc_id, shard, shard_pos from ldi_l2 as ldi_l2s;
    save append ldi_l2s as parquet.`{layout}`;
"""

_LAKE_PARTS = ("lake", "sigs", "layout")


@dataclass
class LakeDay:
    inputs: dict[str, str]
    seed: int
    #: the day-2 script is forced by its own saves
    force_noop: bool = False
    #: building the day-1 lake during set-up already runs every ET the
    #: day-2 script uses
    warm_pass: bool = False
    live: str = field(default="", init=False)
    snapshot: str = field(default="", init=False)
    _paths: dict = field(default_factory=dict, init=False)

    def prepare(self, eng, state_dir: str) -> None:
        """Build the day-1 lake (day 0 plus the day-1 increment) and
        snapshot it, so every pass starts from the same lake."""
        self.live = os.path.join(state_dir, "live")
        self.snapshot = os.path.join(state_dir, "snapshot")
        self._paths = {p: os.path.join(self.live, p) for p in _LAKE_PARTS}
        eng.execute(_lake_day1_script(self.inputs["documents"], **self._paths))
        shutil.copytree(self.live, self.snapshot)

    def before_pass(self) -> None:
        shutil.rmtree(self.live)
        shutil.copytree(self.snapshot, self.live)

    def scripts(self, pass_index: int) -> list[Script]:
        from __spark_entry__ import _CURATE_GOPHER, _LAKE_BATCH2
        text = _DAY2_TEMPLATE.format(docs=self.inputs["documents"],
                                     batch2=_LAKE_BATCH2,
                                     gopher=_CURATE_GOPHER, **self._paths)
        return [Script("day2_increment", text)]

    def verify(self, eng, con, script: Script) -> str | None:
        """The layout rows the last pass appended must equal the
        repository's DuckDB replay of the day-2 layout."""
        from __spark_entry__ import _LAKE_DAY_INGEST_ORACLE
        got = con.execute(
            f"SELECT doc_id, shard, shard_pos FROM read_parquet("
            f"'{self._paths['layout']}/*.parquet') "
            f"WHERE doc_id >= {DAY2_MIN_ID}").fetchdf()
        return compare_frames(got, con.execute(_LAKE_DAY_INGEST_ORACLE).fetchdf())

    @staticmethod
    def templates() -> list[str]:
        from __spark_entry__ import _CURATE_GOPHER, _LAKE_BATCH1, _LAKE_BATCH2, _LAKE_DAY0
        return [_DAY2_TEMPLATE, _lake_day1_script("", "", "", ""),
                _LAKE_DAY0, _LAKE_BATCH1, _LAKE_BATCH2, _CURATE_GOPHER]


WORKLOADS = {"relational": Relational, "lake_day": LakeDay}


def script_hash(workload: str, settings: dict) -> str:
    """Identity of what a workload submits, for every seed: its script
    templates plus the input-size settings."""
    h = hashlib.sha256(repr(sorted(settings.items())).encode())
    for text in WORKLOADS[workload].templates():
        h.update(text.encode())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# output comparison
# ---------------------------------------------------------------------------

def _normalize(df):
    import pandas as pd
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got, want) -> str | None:
    """None when the two results hold the same rows (in any order),
    else a one-line description of the first difference."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    g, w = _normalize(got), _normalize(want)
    if g.equals(w):
        return None
    diff = (g != w).any(axis=1)
    return (f"{int(diff.sum())}/{len(g)} rows differ; first: "
            f"{g[diff].head(1).to_dict('records')} != {w[diff].head(1).to_dict('records')}")
