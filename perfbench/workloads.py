"""Seeded inputs, floorplans and expected outputs for the two workloads.

Everything the program receives is generated here from the workload seed:
the floorplan YAML, the Parquet tables behind the native-mode views, and the
CSV that is bulk-loaded into embedded Derby for the jdbc workload. The
expected row count and content digest of every dump are computed here too,
independently of the program: from the generated rows for
``jdbc_snapshot``, and with DuckDB (the catalog's own oracle SQL) for
``analytics_mix``.
"""

from __future__ import annotations

import csv
import json
import os
import random
from dataclasses import asdict, dataclass
from datetime import date, datetime, timedelta
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import yaml

from check import digest

#: Partition date every run is pinned to (``FLOORIST_RUN_DATE``).
RUN_DATE = date(2026, 3, 4)

DERBY_URL = "jdbc:derby:memory:perfbench"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
DERBY_TABLE = "SNAP"

WORKLOADS = ("analytics_mix", "jdbc_snapshot")


@dataclass
class Dump:
    """One floorplan row and what its output must hold."""

    prefix: str
    query: str
    chunksize: int
    rows: int
    digest: str


@dataclass
class Workload:
    name: str
    seed: int
    mode: str  # "native" or "jdbc"
    dumps: list[Dump]
    data_dir: str | None = None
    derby_csv: str | None = None
    derby_ddl: str | None = None

    def save(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(asdict(self), fh)

    @staticmethod
    def load(path: str) -> Workload:
        with open(path) as fh:
            raw = json.load(fh)
        raw["dumps"] = [Dump(**d) for d in raw["dumps"]]
        return Workload(**raw)

    def write_floorplan(self, path: str) -> None:
        rows = [{"prefix": d.prefix, "query": d.query, "chunksize": d.chunksize} for d in self.dumps]
        with open(path, "w") as fh:
            yaml.safe_dump(rows, fh, sort_keys=False)


def build(name: str, seed: int, work_dir: str, scale: float = 1.0) -> Workload:
    """Generate the inputs of workload ``name`` under ``work_dir``.
    ``scale`` shrinks every table (the self-test uses a small one)."""
    rng = random.Random(f"{name}:{seed}")
    if name == "analytics_mix":
        return _analytics_mix(seed, rng, work_dir, scale)
    if name == "jdbc_snapshot":
        return _jdbc_snapshot(seed, rng, work_dir, scale)
    raise ValueError(f"unknown workload {name!r}; known: {', '.join(WORKLOADS)}")


# -- analytics_mix -----------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "the a fast slow key order sort table scan merge part window small big hash "
    "join batch stream spark dup group query row data filter customer line agg "
    "value column vector"
).split()


def _analytics_tables(rng: random.Random, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables plus documents and events, with the column names
    and Parquet types of the driver's testdata, so catalog operators run on
    them unchanged."""
    g = np.random.default_rng(rng.randrange(2**32))
    n_cust, n_ord, n_line = (max(50, int(k * scale)) for k in (1500, 15000, 60000))
    n_docs, n_events, n_users = (max(40, int(k * scale)) for k in (250, 20000, 300))

    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(g.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": g.choice(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n_cust),
        }
    )
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    odate = day0 + g.integers(0, 2400, n_ord).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
            "o_custkey": g.integers(1, n_cust + 1, n_ord),
            "o_orderstatus": g.choice(["O", "F", "P"], n_ord),
            "o_totalprice": np.round(g.uniform(900, 500000, n_ord), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": g.choice(_PRIORITIES, n_ord),
        }
    )
    l_ord = np.sort(g.integers(1, n_ord + 1, n_line))
    qty = g.integers(1, 51, n_line).astype(np.float64)
    ship = odate[l_ord - 1] + g.integers(1, 122, n_line).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": l_ord,
            "l_partkey": g.integers(1, 20001, n_line),
            "l_suppkey": g.integers(1, 1001, n_line),
            "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * g.uniform(900, 2000, n_line), 2),
            "l_discount": g.integers(0, 11, n_line) / 100.0,
            "l_tax": g.integers(0, 9, n_line) / 100.0,
            "l_returnflag": g.choice(["A", "N", "R"], n_line),
            "l_linestatus": g.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )

    # documents: a fifth are near-duplicates (1-3 word edits) of an earlier
    # document, so the MinHash-LSH dedup chain finds real candidate pairs
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.2:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randint(15, 50))]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [rng.choice(["en", "en", "fr", "es", "de", "zh"]) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(g.integers(0, 30 * 86400 * 10**6, n_events))
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": g.integers(0, n_users, n_events),
            "event_type": g.choice(["view", "click", "purchase", "signup", "error"], n_events),
            "value": np.round(g.uniform(0, 50, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_events)],
        }
    )
    return {
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": documents,
        "events": events,
    }


def _analytics_mix(seed: int, rng: random.Random, work_dir: str, scale: float) -> Workload:
    """A native floorplan over generated views: an unchunked 4-way join and
    aggregate in SQL, three catalog operators (d03 and d04 share the dedup
    memo chain) and an empty SQL result."""
    import duckdb

    from floorist_spark.operators.catalog import all_oracles

    data_dir = os.path.join(work_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    tables = _analytics_tables(rng, scale)
    for tname, table in tables.items():
        pq.write_table(table, os.path.join(data_dir, f"{tname}.parquet"))

    # the seed moves the literals, not the selectivity
    min_qty = rng.randrange(20, 23)
    min_price = rng.randrange(1000, 5000)
    join_sql = (
        "SELECT n.n_name, o.o_orderpriority, COUNT(*) AS n_lines, "
        "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE l.l_quantity >= {min_qty} AND o.o_totalprice > {min_price} "
        "GROUP BY n.n_name, o.o_orderpriority"
    )
    empty_sql = f"SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity < -{min_qty}"
    oracles = all_oracles()
    plan = [
        ("mix/revenue_by_nation", join_sql, 0, join_sql),
        ("mix/lsh_candidates", "catalog:d03_minhash_lsh_candidates", 500, oracles["d03_minhash_lsh_candidates"]),
        ("mix/lsh_dedup", "catalog:d04_lsh_jaccard_dedup", 500, oracles["d04_lsh_jaccard_dedup"]),
        ("mix/sessions", "catalog:e03_session_windows", 5000, oracles["e03_session_windows"]),
        ("mix/empty", empty_sql, 1000, empty_sql),
    ]
    con = duckdb.connect()
    try:
        for tname in tables:
            path = os.path.join(data_dir, f"{tname}.parquet")
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{path}')")
        dumps = []
        for prefix, query, chunksize, oracle in plan:
            expected = con.execute(oracle).fetch_arrow_table()
            rows = expected.num_rows
            dumps.append(Dump(prefix, query, chunksize, rows, digest(expected) if rows else ""))
    finally:
        con.close()
    return Workload(name="analytics_mix", seed=seed, mode="native", dumps=dumps, data_dir=data_dir)


# -- jdbc_snapshot -----------------------------------------------------------

_DDL = (
    f"CREATE TABLE {DERBY_TABLE} (ID INT, ACCT BIGINT, AMT DECIMAL(12,2), NAME VARCHAR(24), "
    "D DATE, TS TIMESTAMP, OK BOOLEAN)"
)


def _jdbc_rows(rng: random.Random, n: int) -> list[tuple]:
    """Typed rows with NULLs in every nullable column (one in twenty)."""
    ts0 = datetime(2025, 1, 1)

    def maybe(v):
        return None if rng.random() < 0.05 else v

    return [
        (
            i,
            maybe(rng.randrange(-(2**40), 2**40)),
            maybe(Decimal(rng.randrange(-10**8, 10**8)) / 100),
            maybe("n" + "".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 20)))),
            maybe(date(2020, 1, 1) + timedelta(days=rng.randrange(2000))),
            maybe(ts0 + timedelta(microseconds=rng.randrange(365 * 86400 * 10**6))),
            maybe(rng.random() < 0.5),
        )
        for i in range(n)
    ]


def _csv_value(v):
    """Derby's import format: empty for NULL, lower-case booleans and
    timestamps with a space."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, datetime):
        return v.isoformat(" ")
    return v


def _jdbc_table(rows: list[tuple], columns: list[str]) -> pa.Table:
    idx = {c: i for i, c in enumerate(["ID", "ACCT", "AMT", "NAME", "D", "TS", "OK"])}
    types = {
        "ID": pa.int32(),
        "ACCT": pa.int64(),
        "AMT": pa.decimal128(12, 2),
        "NAME": pa.string(),
        "D": pa.date32(),
        "TS": pa.timestamp("us"),
        "OK": pa.bool_(),
    }
    return pa.table({c: pa.array([r[idx[c]] for r in rows], types[c]) for c in columns})


def _jdbc_snapshot(seed: int, rng: random.Random, work_dir: str, scale: float) -> Workload:
    """A seeded typed table in embedded Derby, dumped in jdbc mode through the
    single-connection ``read_query``. The dumps are the reference's own
    end-to-end floorplan shapes on its own source path: the whole table at
    chunksize 1000, 1000 rows at chunksize 13 and unchunked, and a 0-row
    query, plus a pushed-down filter."""
    n = max(100, int(100_000 * scale))
    rows = _jdbc_rows(rng, n)
    path = os.path.join(work_dir, "snap.csv")
    with open(path, "w", newline="") as fh:
        csv.writer(fh).writerows([_csv_value(v) for v in r] for r in rows)
    # the seed moves the literal, not the selectivity (about half the rows)
    cut = Decimal(rng.randrange(-10**6, 10**6)) / 100
    filtered = [r for r in rows if r[2] is not None and r[2] > cut and r[6] is True]
    all_cols = ["ID", "ACCT", "AMT", "NAME", "D", "TS", "OK"]
    full = _jdbc_table(rows, all_cols)
    part = _jdbc_table(filtered, ["ID", "AMT", "TS"])
    head = _jdbc_table(rows[:1000], ["ID", "NAME", "AMT"])
    head_sql = f"SELECT ID, NAME, AMT FROM {DERBY_TABLE} WHERE ID < 1000"
    return Workload(
        name="jdbc_snapshot",
        seed=seed,
        mode="jdbc",
        dumps=[
            Dump("jdbc/snapshot", f"SELECT * FROM {DERBY_TABLE}", 1000, n, digest(full)),
            Dump(
                "jdbc/filtered",
                f"SELECT ID, AMT, TS FROM {DERBY_TABLE} WHERE AMT > {cut} AND OK = TRUE",
                500,
                len(filtered),
                digest(part),
            ),
            Dump("jdbc/chunked_13", head_sql, 13, head.num_rows, digest(head)),
            Dump("jdbc/unchunked", head_sql, 0, head.num_rows, digest(head)),
            Dump("jdbc/empty", f"SELECT * FROM {DERBY_TABLE} WHERE ID < 0", 1000, 0, ""),
        ],
        derby_csv=path,
        derby_ddl=_DDL,
    )
