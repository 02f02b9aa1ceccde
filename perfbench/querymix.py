"""``query_mix``: read-only registry queries in a seed-shuffled order.

Each query is built with ``spec.fn(spark, dir)`` and executed by
collecting its result (``toPandas``); build and execution are timed and
traced separately, because plan building is serial driver work. The set
is four queries, one per part of the layer (see :data:`QUERIES`).
Set-up primes the session with one query outside the mix, as ``bench.py``
does; the measured pass is then each query's first, so it pays its own
plan building, code generation and JIT, as an interactive user's would.
Collecting lets the output check read the measured execution's own result
instead of running every query a second time.

The benchmark may read only its own checkout, so the tables the queries
read (the ten-table star schema of TESTDATA.md, same names and column
types) are generated from the seed at a fixed scale. Each query's result
is compared once per run, ignoring row order, with its registry DuckDB
oracle.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

import numpy as np

from .checks import canon_frame
from .harness import Op, fail, median, tail

# One query per part of the layer, from bench.py's 12 headline queries plus
# the Snowflake-dialect front end: token counting (operators.text), SimHash
# (operators.dedup), cosine top-k (operators.similarity) and Snowflake SQL
# text (functions.snowflake_sql). The other headline queries run the same
# registry and scan paths; each query costs a run several seconds cold, and
# the run budget of three workloads leaves room for four.
QUERIES = (
    "x02_token_count",
    "x07_simhash",
    "x09_cosine_topk",
    "q39_snowflake_dialect_frontend",
)
# Set-up primes the JVM with it, as bench.py does; it is not in the mix.
WARM_UP = "q21_global_topk"

# per-layer metrics this workload adds to BENCHMARK.json's set
LAYER_UNITS = {
    **{f"queries.{q}.{m}": unit
       for q in QUERIES
       for m, unit in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                       ("build_jobs", "count"))},
    "queries.build_s": "s", "queries.exec_s": "s", "queries.build_jobs": "count",
}

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

WORDS = ("key agg row scan slow fast table value part hash a merge batch spark the line "
         "sort window data column join small customer query order group filter big "
         "stream vector of and is to in").split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray):
    import pyarrow as pa

    start = int(np.datetime64(base, "us").astype(np.int64))
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def generate(dest: str, seed: int, sf: float) -> str:
    """Write the ten tables as parquet under ``dest``; row counts follow
    TESTDATA.md's per-scale-factor sizes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(dest, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(dest, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{WORDS[i % 30]} {WORDS[(i * 7) % 30]}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(("ECONOMY", "STANDARD", "PROMO", "LARGE"))[rng.integers(0, 4, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": retail,
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", order_day * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(pkey, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(lineno, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(("R", "A", "N"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", (order_day[okey] + rng.integers(1, 122, n_li)) * DAY_US),
    })
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", rng.integers(0, 30 * DAY_US, n_ev)),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 500.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.1:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        if texts and r < 0.2:  # near duplicate: a few tokens swapped
            toks = texts[int(rng.integers(0, len(texts)))].rstrip(".").split(" ")
            for j in rng.integers(0, len(toks), 3):
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(20, 100)))]
        texts.append(" ".join(toks) + ("." if rng.random() < 0.5 else ""))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * 64 + 1, 64), pa.int32()), pa.array(emb.ravel())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return dest


def lineage(sf_dir: str) -> dict:
    """Lineage stamp in the manner of ``bench.py``'s ``_lineage``, hashing
    (name, size, content) instead of mtime: the tables are regenerated on
    every run, and the same seed must give the same digest."""
    h = hashlib.sha256()
    names = sorted(os.listdir(sf_dir))
    for name in names:
        with open(os.path.join(sf_dir, name), "rb") as fh:
            data = fh.read()
        h.update(f"{name}:{len(data)}:".encode() + hashlib.sha256(data).digest())
    return {"digest": h.hexdigest()[:16], "n_files": len(names)}


class QueryMix:
    """One cycle is one pass over the query set in a seed-shuffled order."""

    def __init__(self, h, work: str, seed: int, scale: dict):
        self.h, self.work, self.seed = h, work, seed
        self.sf = scale["query_sf"]
        self.rng = random.Random(seed)
        self.results: dict = {}
        self.corrupt = False  # self-test: spoil one result before the check

    def make_inputs(self, dest: str) -> None:
        generate(dest, self.seed, self.sf)

    def prepare(self, spark) -> None:
        from airbnb_listings_data_pipelines_spark.queries.registry import load_all

        self.spark = spark
        self.sf_dir = os.path.join(self.work, "inputs")
        self.reg = load_all()

    def expect(self) -> None:
        """The oracles run after the loop, in :meth:`check`."""

    def warm_up(self) -> None:
        """Prime the JVM and the Python workers with :data:`WARM_UP`."""
        df = self.h.call("read", "queries.warm_up", self.reg[WARM_UP].fn, self.spark,
                         self.sf_dir, record=False)
        if df is not None:
            self.h.call("read", "queries.warm_up", df.toPandas, record=False)

    def cycle(self) -> None:
        order = list(QUERIES)
        self.rng.shuffle(order)
        h = self.h
        for name in order:
            t0 = time.perf_counter()
            df = h.call("read", f"queries.{name}.build", self.reg[name].fn,
                        self.spark, self.sf_dir, record=False)
            out = None
            if df is not None:
                out = h.call("read", f"queries.{name}.exec", df.toPandas, record=False)
            h.ops.append(Op("read", name, time.perf_counter() - t0, out is not None))
            self.results.setdefault(name, out)  # the first pass is checked

    def check(self) -> None:
        """Compare each query's first result with its DuckDB oracle; a
        mismatch fails every execution of that query in the run."""
        import duckdb

        if self.corrupt:  # self-test: spoil one result
            name = QUERIES[0]
            self.results[name] = self.results[name].iloc[1:]
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for name in QUERIES:
                got = self.results.get(name)
                want = con.sql(self.reg[name].oracle).df()
                if got is None or sorted(got.columns) != sorted(want.columns) \
                        or canon_frame(got) != canon_frame(want):
                    fail(None, f"{name} differs from its oracle")
                    for op in self.h.ops:
                        if op.name == name:
                            op.ok = False
        finally:
            con.close()

    def layer_metrics(self) -> dict:
        out: dict = {}
        tot = {"queries.build_s": 0.0, "queries.exec_s": 0.0, "queries.build_jobs": 0}
        for name in QUERIES:
            b = self.h.fold(f"queries.{name}.build")
            e = self.h.fold(f"queries.{name}.exec")
            out[f"queries.{name}.build_s"] = b["s"]
            out[f"queries.{name}.exec_s"] = e["s"]
            out[f"queries.{name}.jobs"] = e["jobs"]
            out[f"queries.{name}.build_jobs"] = b["jobs"]
            tot["queries.build_s"] += b["s"]
            tot["queries.exec_s"] += e["s"]
            tot["queries.build_jobs"] += b["jobs"]
        return {**out, **tot}

    def named_metrics(self, stats: dict) -> dict:
        value, pct, n = tail(stats["reads"])
        return {"query_p50_s": {"value": median(stats["reads"]), "unit": "s"},
                "query_tail_s": {"value": value, "unit": "s", "percentile": pct, "samples": n},
                "queries_per_min": {"value": stats["ops_per_min"], "unit": "1/min"}}

    def report(self) -> dict:
        return {"sf": self.sf, "queries": len(QUERIES), "lineage": lineage(self.sf_dir)}
