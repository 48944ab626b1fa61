"""The workloads, each a fixed list of steps run once per pass.

A step is a registered query run to its result, or one call into an
operator's public function. Every step has a check: registered queries
against their DuckDB oracle, lifecycle steps against a DuckDB replay
of the same seeded batches or the engine's in-memory index path.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

from perfbench import check

# The read workload: TPC-H, the pandas-style front end (frame.py) and
# IVF-PQ search (the LLM-data operator path; it runs a mapInPandas
# Python stage). The list is sized so that a run -- two session
# set-ups, a cold pass, two warm passes and the checks -- fits the
# benchmark's time budget on a 4-core host. Left out for that reason
# (per run on that host): dedup_minhash_lsh (16 s: 8 s cold, 3 s per warm
# pass, 2 s for its exact-mode check), win_qualify_sql_dialect (20 s,
# nearly all of it BodoSQLContext registering its dialect functions on
# every context), text_bm25_topk (7 s), win_running_sum, dt_sessionize,
# join_asof_events, text_pipeline_e2e, emb_pipeline_e2e, ann_cosine_topk
# and ann_ivf_topk.
QUERY_STEPS = (
    "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue",
    "q9_profit_by_nation_year", "q13_customer_distribution",
    "q18_large_volume_customer", "q21_suppliers_kept_waiting",
    "pd_group_cum_ops", "ann_pq_topk",
)


@dataclass
class Step:
    name: str
    kind: str                      # "read" or "write"
    run: Callable[[], Any]
    check: Callable[[Any], str | None] = lambda out: None
    init: bool = False             # creates a table (not a change batch)
    stats: Callable[[Any], dict] | None = None  # traced per-layer counts


class Ctx:
    """What steps share: the session, the data set the workload reads,
    spans, seed, work directory and the directory caching the expected
    outputs for this data set and source digest."""

    def __init__(self, spark, spans, data: str, seed: int, work: str,
                 expected: str):
        self.spark, self.spans = spark, spans
        self.data, self.seed, self.work = data, seed, work
        self.expected = expected
        self.last_df = None

    def collect(self, df) -> pd.DataFrame:
        with self.spans.span("exec.collect"):
            out = df.toPandas()
        self.last_df = df
        return out


def cached(path: str, compute: Callable[[], pd.DataFrame]) -> pd.DataFrame:
    """``compute()``'s frame, pickled at ``path`` on first use. The
    directory is keyed by data set and source digest, so a change to
    the engine or an oracle never reads an output cached before it."""
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".partial")
    os.replace(path + ".partial", path)
    return df


# ------------------------------------------------------ registered queries

class Registered:
    """Registered queries timed in fast mode, checked against oracles."""

    def __init__(self, ctx: Ctx, names: tuple[str, ...]):
        from bodo_spark.queries import all_queries
        self.ctx, self.names = ctx, names
        self.qs = all_queries()

    def oracle(self, name: str) -> pd.DataFrame:
        """DuckDB oracle result, cached per data set and source."""
        def compute():
            from bodo_spark.verify import duckdb_conn
            con = duckdb_conn(self.ctx.data)
            try:
                return con.execute(self.qs[name].oracle).df()
            finally:
                con.close()
        return cached(os.path.join(self.ctx.expected, f"{name}.pkl"),
                      compute)

    def _run(self, name: str):
        ctx = self.ctx
        with ctx.spans.span("queries.build"):
            df = self.qs[name].fn(ctx.spark, ctx.data)
        return ctx.collect(df)

    def steps(self, pass_id: int) -> list[Step]:
        return [Step(n, "read", lambda n=n: self._run(n),
                     lambda out, n=n: check.frame_diff(out, self.oracle(n)))
                for n in self.names]

    def end_pass(self, pass_id: int) -> None:
        pass

    # Read-only: nothing of its own on disk.
    change_bytes = 0

    def pass_dir(self, pass_id: int) -> str | None:
        return None

    def row_table_dirs(self) -> list[str]:
        return []

    def live_bytes(self) -> int:
        return 0


# --------------------------------------------------------------- lifecycle

CUST_COLS = ["c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"]
CUST_SCHEMA = ("c_custkey bigint, c_nationkey int, c_acctbal double, "
               "c_mktsegment string")
MERGE_BUCKETS, MOR_BUCKETS, SQ_CELLS = 256, 32, 8
MERGE_BATCHES, MOR_BATCHES, SQ_BATCHES = 1, 2, 1
BATCH_ROWS, SQ_BATCH_ROWS, LOOKUP_KEYS, SQ_QUERIES = 300, 150, 20, 8
_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def change_batches(rng, keys: np.ndarray, n_batches: int,
                   first_new_key: int) -> list[pd.DataFrame]:
    """Seeded update/insert/delete batches over live ``keys``; the mix
    of the three is drawn per batch."""
    live = list(keys)
    next_key = first_new_key
    out = []
    for _ in range(n_batches):
        f_upd = rng.uniform(0.4, 0.7)
        f_del = rng.uniform(0.1, 0.3)
        n_upd = int(BATCH_ROWS * f_upd)
        n_del = int(BATCH_ROWS * f_del)
        n_ins = BATCH_ROWS - n_upd - n_del
        pick = rng.choice(len(live), n_upd + n_del, replace=False)
        touched = [live[i] for i in pick]
        ins = list(range(next_key, next_key + n_ins))
        next_key += n_ins
        k = np.array(touched + ins, dtype=np.int64)
        out.append(pd.DataFrame({
            "c_custkey": k,
            "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(k)), 2),
            "c_mktsegment": rng.choice(_SEGS, len(k)),
            "op": ["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins}))
        dead = set(touched[n_upd:])
        live = [x for x in live if x not in dead] + ins
    return out


def replay(initial: pd.DataFrame, batches: list[pd.DataFrame],
           seq: bool = False) -> list[pd.DataFrame]:
    """DuckDB replay of MERGE batches: matched 'D' deletes, other
    matched rows update, unmatched non-'D' rows insert. Returns the
    table state after each batch (with ``_cdc_seq`` = batch number when
    ``seq``)."""
    import duckdb
    con = duckdb.connect()
    t0 = initial.copy()
    if seq:
        t0["_cdc_seq"] = 0
    con.register("t0", t0)
    con.execute("CREATE TABLE t AS SELECT * FROM t0")
    seq_set = ", _cdc_seq = b.seq" if seq else ""
    seq_col = ", seq" if seq else ""
    states = []
    for i, b in enumerate(batches, start=1):
        b = b.assign(seq=i)
        con.register("b", b)
        con.execute("DELETE FROM t WHERE c_custkey IN "
                    "(SELECT c_custkey FROM b WHERE op = 'D')")
        con.execute(
            "UPDATE t SET c_nationkey = b.c_nationkey, "
            f"c_acctbal = b.c_acctbal, c_mktsegment = b.c_mktsegment{seq_set}"
            " FROM b WHERE t.c_custkey = b.c_custkey AND b.op <> 'D'")
        con.execute(
            f"INSERT INTO t SELECT {', '.join(CUST_COLS)}{seq_col} FROM b "
            "WHERE op <> 'D' AND c_custkey NOT IN (SELECT c_custkey FROM t)")
        states.append(con.execute("SELECT * FROM t").df())
        con.unregister("b")
    con.close()
    return states


def _read_table(path: str, drop: tuple[str, ...] = ()) -> pd.DataFrame:
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet", partitioning="hive",
                   exclude_invalid_files=True).to_table()
    return t.drop([c for c in drop if c in t.column_names]).to_pandas()


class Lifecycle:
    """Writes beside reads on the same tables: bucketed file-pruned
    MERGE, whole-table COW MERGE, bucketed MoR with maintenance, and a
    stored IVF-SQ index with appends and serves. Every pass starts from
    fresh table directories and applies the same seeded batches."""

    def __init__(self, ctx: Ctx):
        import pyarrow.parquet as pq
        from bodo_spark.queries._util import tbl
        from pyspark.sql import functions as F
        self.ctx, self.F = ctx, F
        spark = ctx.spark
        # one stream per table family, so resizing one leaves the others
        rng_merge, rng_cow, rng_mor, rng_sq = (
            np.random.default_rng([ctx.seed, k]) for k in range(1, 5))
        self.cust = tbl(spark, ctx.data, "customer").select(*CUST_COLS)
        cust_pd = pq.read_table(os.path.join(
            ctx.data, "customer.parquet"), columns=CUST_COLS).to_pandas()
        keys = cust_pd["c_custkey"].to_numpy()
        first_new = int(keys.max()) + 1
        self.merge_batches = change_batches(rng_merge, keys, MERGE_BATCHES,
                                            first_new)
        self.cow_batches = change_batches(rng_cow, keys, 1, first_new)
        self.mor_batches = change_batches(rng_mor, keys, MOR_BATCHES,
                                          first_new)
        self.merge_states = replay(cust_pd, self.merge_batches)
        self.cow_states = replay(cust_pd, self.cow_batches)
        self.mor_states = replay(cust_pd, self.mor_batches, seq=True)
        pool = np.concatenate([keys[:LOOKUP_KEYS], np.concatenate(
            [b["c_custkey"].to_numpy() for b in self.mor_batches])])
        self.lookup_keys = [int(k) for k in
                            rng_mor.choice(pool, LOOKUP_KEYS,
                                           replace=False)]
        emb_pa = pq.read_table(os.path.join(ctx.data, "embeddings.parquet"))
        ids = np.sort(emb_pa.column("vec_id").to_numpy())
        extra = rng_sq.choice(ids, SQ_BATCHES * SQ_BATCH_ROWS,
                              replace=False)
        batch_ids = [sorted(int(x) for x in part)
                     for part in np.split(extra, SQ_BATCHES)]
        emb = tbl(spark, ctx.data, "embeddings")
        self.sq_seed = emb.where(~F.col("vec_id").isin(
            [int(x) for x in extra]))
        self.sq_batches = [emb.where(F.col("vec_id").isin(b))
                           for b in batch_ids]
        qids = [int(x) for x in rng_sq.choice(ids, SQ_QUERIES,
                                              replace=False)]
        self.sq_queries = emb.where(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        self.change_bytes = int(sum(
            _arrow_bytes(b) for b in (self.merge_batches + self.cow_batches
                                      + self.mor_batches)))
        self.change_bytes += int(emb_pa.nbytes / emb_pa.num_rows
                                 * SQ_BATCHES * SQ_BATCH_ROWS)
        self.root = os.path.join(ctx.work, "lifecycle")
        self._row_tables: list[str] = []

    def _src(self, batch: pd.DataFrame, seq: int | None = None):
        spark = self.ctx.spark
        if seq is None:
            return spark.createDataFrame(batch, CUST_SCHEMA + ", op string")
        b = batch.assign(op=batch["op"].replace("I", "U"), seq=seq)
        return spark.createDataFrame(
            b, CUST_SCHEMA + ", op string, seq bigint")

    def _merge_kwargs(self) -> dict:
        F = self.F
        upd = {c: F.col(f"src_{c}") for c in CUST_COLS[1:]}
        return {"when_matched_update": upd,
                "when_matched_delete": F.col("src_op") == "D",
                "when_not_matched_insert": {c: F.col(f"src_{c}")
                                            for c in CUST_COLS},
                "when_not_matched_insert_condition": F.col("src_op") != "D"}

    def _state_diff(self, path: str, want: pd.DataFrame,
                    drop: tuple[str, ...] = ("mbucket",)) -> str | None:
        return check.frame_diff(_read_table(path, drop), want)

    def sq_expected(self, i: int) -> pd.DataFrame:
        """sq_append + ivf_sq_topk in memory after batch ``i``."""
        def compute():
            from bodo_spark.operators import sq as Q
            los, his = Q.sq_train(self.sq_seed)
            idx = Q.ivf_sq_index(self.sq_seed, los, his, n_cells=SQ_CELLS,
                                 seed_vectors=self.sq_seed)
            for b in self.sq_batches[:i + 1]:
                idx = Q.sq_append(idx, b, los, his, n_cells=SQ_CELLS,
                                  seed_vectors=self.sq_seed)
            return Q.ivf_sq_topk(idx, self.sq_queries, self.sq_seed, los,
                                 his, k=5, n_probe=2,
                                 n_cells=SQ_CELLS).toPandas()
        return cached(os.path.join(
            self.ctx.expected, f"sq_topk_seed{self.ctx.seed}_{i}.pkl"),
            compute)

    def steps(self, pass_id: int) -> list[Step]:
        from bodo_spark.operators import merge as M
        from bodo_spark.operators import mor as R
        from bodo_spark.operators import sq as Q
        ctx, F, span = self.ctx, self.F, self.ctx.spans.span
        spark = ctx.spark
        d = self.pass_dir(pass_id)
        mpath, cpath = f"{d}/merge_customer", f"{d}/cow_customer"
        rpath, spath = f"{d}/mor_customer", f"{d}/sq_store"
        self._row_tables = [mpath, cpath, rpath]
        key = ["c_custkey"]
        steps: list[Step] = []

        def merge_init():
            with span("merge.init"):
                M.write_bucket_partitioned(self.cust, mpath, key,
                                           MERGE_BUCKETS)
        steps.append(Step("merge_init", "write", merge_init, init=True))
        for i, b in enumerate(self.merge_batches):
            def merge_batch(b=b):
                with span("merge.partitioned"):
                    return M.merge_into_partitioned(
                        spark, mpath, self._src(b), key,
                        n_buckets=MERGE_BUCKETS, **self._merge_kwargs())
            steps.append(Step(
                f"merge_partitioned_{i}", "write", merge_batch,
                lambda out, i=i: self._state_diff(mpath,
                                                  self.merge_states[i]),
                stats=lambda out: {"touched_buckets": len(out)}))

        def cow_init():
            with span("merge.cow_init"):
                self.cust.write.parquet(cpath)

        def cow_batch():
            with span("merge.cow"):
                M.merge_into_parquet(spark, cpath,
                                     self._src(self.cow_batches[0]), key,
                                     **self._merge_kwargs())
        steps.append(Step("cow_init", "write", cow_init, init=True))
        steps.append(Step("merge_cow", "write", cow_batch,
                          lambda out: self._state_diff(
                              cpath, self.cow_states[0])))

        def mor_init():
            with span("mor.init"):
                R.mor_init(self.cust.withColumn("_cdc_seq",
                                                F.lit(0).cast("bigint")),
                           rpath, key_cols=key, n_buckets=MOR_BUCKETS)
        steps.append(Step("mor_init", "write", mor_init, init=True))
        for i, b in enumerate(self.mor_batches):
            want = self.mor_states[i]

            def apply(b=b, i=i):
                with span("mor.apply"):
                    return R.mor_apply(self._src(b, seq=i + 1), rpath,
                                       key_cols=key)

            def maintain():
                with span("mor.maintain"):
                    return R.mor_maintain(spark, rpath, key_cols=key,
                                          max_segments=1)

            def lookup():
                with span("mor.lookup"):
                    df = R.mor_lookup(spark, rpath, self.lookup_keys,
                                      key_cols=key)
                    return ctx.collect(df)

            def read():
                with span("mor.read"):
                    return ctx.collect(R.mor_read(spark, rpath,
                                                  key_cols=key))
            wk = want[want["c_custkey"].isin(self.lookup_keys)]
            steps += [
                Step(f"mor_apply_{i}", "write", apply),
                Step(f"mor_maintain_{i}", "write", maintain,
                     lambda out: None if isinstance(out, dict)
                     and "compacted" in out else f"bad result {out!r}",
                     stats=lambda out: {
                         "compactions": int(out["compacted"]),
                         "delta_segments": R.mor_delta_stats(
                             spark, rpath)["n_segments"]}),
                Step(f"mor_lookup_{i}", "read", lookup,
                     lambda out, wk=wk: check.frame_diff(
                         out.drop(columns=["mbucket"], errors="ignore"), wk)),
                Step(f"mor_read_{i}", "read", read,
                     lambda out, want=want: check.frame_diff(
                         out.drop(columns=["mbucket"], errors="ignore"),
                         want))]

        def sq_store():
            with span("sq.store"):
                los, his = Q.sq_train(self.sq_seed)
                idx = Q.ivf_sq_index(self.sq_seed, los, his,
                                     n_cells=SQ_CELLS,
                                     seed_vectors=self.sq_seed)
                Q.sq_store_index(idx, spath, los, his, n_cells=SQ_CELLS,
                                 seed_vectors=self.sq_seed)
        steps.append(Step("sq_store", "write", sq_store, init=True))
        for i, b in enumerate(self.sq_batches):
            def append(b=b):
                with span("sq.append"):
                    Q.sq_stored_append(b, spath)

            def topk():
                with span("sq.topk"):
                    return ctx.collect(Q.sq_stored_topk(
                        spark, spath, self.sq_queries, k=5, n_probe=2))
            steps += [Step(f"sq_append_{i}", "write", append),
                      Step(f"sq_topk_{i}", "read", topk,
                           lambda out, i=i: check.frame_diff(
                               out, self.sq_expected(i)))]
        return steps

    def pass_dir(self, pass_id: int) -> str:
        return os.path.join(self.root, f"p{pass_id}")

    def row_table_dirs(self) -> list[str]:
        return self._row_tables

    def live_bytes(self) -> int:
        """Arrow bytes of the live rows of the three row tables."""
        return int(sum(_arrow_bytes(s[-1]) for s in (
            self.merge_states, self.cow_states, self.mor_states)))

    def end_pass(self, pass_id: int) -> None:
        shutil.rmtree(self.pass_dir(pass_id), ignore_errors=True)


def _arrow_bytes(df: pd.DataFrame) -> int:
    import pyarrow as pa
    return pa.Table.from_pandas(df, preserve_index=False).nbytes


def make(name: str, ctx: Ctx):
    if name == "query":
        return Registered(ctx, QUERY_STEPS)
    if name == "lifecycle":
        return Lifecycle(ctx)
    raise KeyError(name)
