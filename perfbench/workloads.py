"""The benchmark workloads.

Each workload is one closed-loop client: it runs an iteration, waits for
it to finish, and starts the next. An iteration is a list of timed
operations (one user-level call each); the harness times the iteration
as a whole. Output checks run once per run, after the timed region.

Seeds map onto ``VARIANTS`` input variants (``seed % VARIANTS``), so a
committed golden per variant checks every seed.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

VARIANTS = 16

#: query_mix: the registry queries of one pass, in report order. They
#: cover a TPC-H scan and aggregate, the numpy MinHash kernel, the
#: streaming layer, the FA flagship merge and, through ``vocab_oov_rate``,
#: the ``operators.scale`` stage cache (``stage_once``).
QUERIES = (
    "q1_pricing_summary",
    "dedup_minhash_lsh",
    "streaming_sessionize_stateful",
    "fa_flagship_merged",
    "vocab_oov_rate",
)

#: Fixed seed of the query_mix tables. Like the repository's test data,
#: the tables do not change between runs; the run seed picks the query order.
TABLES_SEED = 20_240_101

#: Input sizes (see README.md for how they were chosen).
FA_PROPERTIES = 100_000
QUERY_TABLES = dict(n_orders=15_000, n_events=10_000, n_documents=1_000, n_embeddings=1_000)


@dataclass
class Op:
    """One timed user-level call. ``ok`` is false when it raised;
    ``op_p50_s`` is over the ``primary`` calls, per ``kind``."""

    kind: str
    seconds: float
    ok: bool = True
    primary: bool = True


def _attempt(fn):
    """Run one operation; an exception fails it, not the run."""
    try:
        return fn(), True
    except Exception:
        traceback.print_exc()
        return None, False


@dataclass
class CheckResult:
    failed_kinds: set[str] = field(default_factory=set)
    unchecked: list[str] = field(default_factory=list)
    observed: dict = field(default_factory=dict)


def frame_digest(df) -> list[int]:
    """Order-insensitive (row count, hash) of a DataFrame: the sum of
    per-row xxhash64 values over name-sorted columns, folded mod 2^31-1
    so the sum cannot overflow."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.select(F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647)).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return [int(row["n"]), int(row["s"] or 0)]


class Workload:
    name = ""
    def __init__(self, root: str, seed: int, tracer):
        self.root = root
        self.seed = seed
        self.variant = seed % VARIANTS
        self.tracer = tracer

    @property
    def golden_key(self) -> str:
        """Key of this run's entry in ``goldens.json``."""
        return str(self.variant)

    def generate(self, workers: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Imports and other per-process work counted in set-up."""

    def before_iteration(self, it: int) -> None:
        """Untimed per-iteration preparation."""

    def iteration(self, spark, it: int) -> list[Op]:
        raise NotImplementedError

    def check(self, spark, golden: dict | None) -> CheckResult:
        raise NotImplementedError

    def _timed(self, kind: str, it: int, fn, primary: bool = True):
        with self.tracer.top_span(kind, it):
            t0 = time.perf_counter()
            out, ok = _attempt(fn)
            return out, Op(kind, time.perf_counter() - t0, ok, primary)


class FaEtl(Workload):
    """The paper's own job: FA raw zips → staged, ranked, merged parquet."""

    name = "fa_etl"

    def generate(self, workers: int) -> None:
        from perfbench import gen

        first_pid = 10_000_000 * (self.variant + 1)
        self.src = os.path.join(self.root, "fa_src")
        gen.write_fa_raw(self.src, first_pid, FA_PROPERTIES, workers)
        self.rows: list[int] = []

    def prepare(self) -> None:
        from firstamerican_etl_spark.pipeline import run  # noqa: F401

    def before_iteration(self, it: int) -> None:
        prev = os.path.join(self.root, f"fa_{it - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        self.dir = os.path.join(self.root, f"fa_{it}")
        shutil.copytree(os.path.join(self.src, "raw"), os.path.join(self.dir, "raw"))

    def iteration(self, spark, it: int) -> list[Op]:
        from firstamerican_etl_spark.pipeline.run import run_pipeline

        _, op = self._timed("run_pipeline", it, lambda: run_pipeline(spark, self.dir))
        merged = os.path.join(self.dir, "unified", "merged.parquet")
        n, count_op = self._timed(
            "count_merged", it, lambda: spark.read.parquet(merged).count(), primary=False)
        self.rows.append(n)
        return [op, count_op]

    def check(self, spark, golden: dict | None) -> CheckResult:
        merged = os.path.join(self.dir, "unified", "merged.parquet")
        digest, ok = _attempt(lambda: frame_digest(spark.read.parquet(merged)))
        res = CheckResult(observed={"merged_rows": self.rows[-1], "merged_digest": digest})
        if not ok:
            res.failed_kinds.update(("run_pipeline", "count_merged"))
        if golden is None:
            res.unchecked.append(self.name)
            return res
        if any(n != golden["merged_rows"] for n in self.rows):
            res.failed_kinds.update(("run_pipeline", "count_merged"))
        if res.observed["merged_digest"] != golden["merged_digest"]:
            res.failed_kinds.add("run_pipeline")
        return res


class QueryMix(Workload):
    """Read-only analytics: one pass runs the queries in a seeded order."""

    name = "query_mix"
    golden_key = "tables"  # the tables do not depend on the seed

    def generate(self, workers: int) -> None:
        from perfbench import gen

        self.sf_dir = gen.write_tables(os.path.join(self.root, "tables"), TABLES_SEED, **QUERY_TABLES)
        self.order = list(QUERIES)
        random.Random(self.seed).shuffle(self.order)
        #: the frames of the latest pass, which the output check reads
        self.frames: dict = {}

    def prepare(self) -> None:
        from firstamerican_etl_spark.plans.registry import load_all

        self.specs = load_all()

    def iteration(self, spark, it: int) -> list[Op]:
        ops = []
        for q in self.order:
            t0 = time.perf_counter()
            _, ok = _attempt(lambda: self._query(spark, q, it))
            ops.append(Op(q, time.perf_counter() - t0, ok))
        return ops

    def _query(self, spark, q: str, it: int) -> None:
        with self.tracer.top_span(f"plan.{q}", it):
            df = self.specs[q].spark(spark, self.sf_dir)
        with self.tracer.top_span(f"exec.{q}", it):
            df.write.format("noop").mode("overwrite").save()
        self.frames[q] = df

    def check(self, spark, golden: dict | None) -> CheckResult:
        from concurrent.futures import ThreadPoolExecutor

        # the queries run concurrently: this is outside the timed region
        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            outcomes = dict(zip(QUERIES, pool.map(lambda q: _attempt(lambda: self._output(spark, q)), QUERIES)))
        res = CheckResult()
        for q, (out, ok) in outcomes.items():
            res.observed[q] = out
            if not ok or out == "mismatch":
                res.failed_kinds.add(q)
            elif self.specs[q].oracle is None:
                if golden is None or q not in golden:
                    res.unchecked.append(q)
                elif out != golden[q]:
                    res.failed_kinds.add(q)
        return res

    def _output(self, spark, q: str):
        """"ok"/"mismatch" against the oracle SQL, or the digest of a
        query without one, of the frame the latest pass built (a
        streaming query's frame reads the sink its drain filled)."""
        from tests.oracle_harness import compare

        spec = self.specs[q]
        df = self.frames[q]
        if spec.oracle is None:
            return frame_digest(df)
        errs = compare(q, df, spec.oracle, self.sf_dir)
        if errs:
            print(f"[perfbench] {errs[0]}", file=sys.stderr)
        return "mismatch" if errs else "ok"


WORKLOADS = {w.name: w for w in (FaEtl, QueryMix)}
