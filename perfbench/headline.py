"""``headline``: the query spine, closed loop, one client.

One cold pass over ``bench.HEADLINE`` in registry order, then whole
warm passes in seed-permuted order: the first always, later ones while
they should end inside the window. Each query is
the registry call that returns its DataFrame plus the same noop write
``bench.py`` uses. After the window every query is checked against its
DuckDB oracle: the cold pass fetches every result to the driver
instead of writing it to the noop sink, so the check reads the rows the
run produced without executing the query again.

The traced run adds the corpus-pipeline probe: release the session
artifacts, build the 12 of them cold one by one, then run the pipeline
consumers once each (c20, c18 and f12 among them), all checked against
their oracles. That probe feeds the ``queries.registry.*`` and
``streaming.pipeline.*`` layers and the consumers' ``queries.*`` rows.
"""

from __future__ import annotations

import random
import time

from . import datagen
from .common import median, pct

#: Scale factor of the generated fixture. Per-query cost at this size
#: is mostly fixed driver cost (plan, analysis, codegen, scheduling).
SF = 0.01
SMOKE_SF = 0.001

PIPELINE = [
    "c14_minhash_calibration", "c15_band_canonical_keep_best",
    "c18_blocked_fuzzy_match", "c20_containment_pairs",
    "c21_candidate_degree_profile", "d06_pq_adc_topk",
    "d11_nprobe_recall_curve", "p11_column_profile",
    "f12_stream_full_outer_join", "f14_stream_semi_join",
]


class Collected:
    """A result already fetched to the driver, shaped like the DataFrame
    ``oracle_harness.compare`` expects, so checking does not re-run it."""

    def __init__(self, df, rows) -> None:
        self.columns, self.schema, self._rows = df.columns, df.schema, rows

    def collect(self):
        return self._rows


class Headline:
    name = "headline"
    fair = False
    #: Per-layer metric prefixes this workload never reaches (reported 0).
    not_measured = ("service.", "operators.", "schemas.", "loadgen.",
                    "streaming.ingest.", "streaming.dashboard.")

    def __init__(self, args, work, tracer) -> None:
        from bench import HEADLINE

        self.args, self.tracer = args, tracer
        self.names = list(HEADLINE)
        self.sf = SMOKE_SF if args.smoke else SF
        self.data = work.path("data")
        self.errors: dict[str, str] = {}
        self.executions: dict[str, int] = {}
        self.collected: dict[str, Collected] = {}
        self.attempted = 0
        self.overhead = 0.0

    def prepare(self, spark) -> None:
        datagen.write_fixture(self.data, self.sf, self.args.seed)
        datagen.warm_engine(spark, f"{self.data}/orders.parquet", "o_orderstatus")

    def _exec(self, spark, name: str, collect: bool = False) -> float:
        """One operation: the registry call, then the noop write, or with
        ``collect`` the rows fetched to the driver for the output check."""
        from streamandbatchprocessing_spark.queries import QUERIES

        self.attempted += 1
        self.executions[name] = self.executions.get(name, 0) + 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(name):
                with self.tracer.span(f"queries.{name}.plan_s"):
                    df = QUERIES[name](spark, self.data)
                with self.tracer.span(f"queries.{name}.exec_s"):
                    if collect:
                        self.collected[name] = Collected(df, df.collect())
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
            return -1.0
        return time.perf_counter() - t0

    def run(self, spark) -> dict:
        spark.sparkContext.setJobGroup("perfbench-headline", "measured window")
        rng = random.Random(self.args.seed)
        t_start = time.perf_counter()
        deadline = t_start + self.args.seconds
        # The cold pass fetches each result, which the output check
        # compares with the oracle after the window.
        with self.tracer.on(False):  # per-layer figures are warm
            cold = {name: round(self._exec(spark, name, collect=True), 3)
                    for name in self.names}
        cold_s = time.perf_counter() - t_start
        warm, traced, untraced, passes = [], [], [], []
        # Warm passes run whole, so every run times the same queries: the
        # first always runs, later ones only if they should end in time.
        while not passes or time.perf_counter() + passes[-1] <= deadline:
            order = self.names[:]
            rng.shuffle(order)
            p0 = time.perf_counter()
            for i, name in enumerate(order):
                # Traced runs record spans on every other execution, so
                # traced and untraced executions of each query interleave.
                on = (len(passes) + i) % 2 == 0
                with self.tracer.on(on):
                    dt = self._exec(spark, name)
                if dt >= 0:
                    warm.append(dt)
                    (traced if on else untraced).append(dt)
            passes.append(time.perf_counter() - p0)
        spark.sparkContext.setJobGroup("perfbench-checks", "outside the window")
        if traced and untraced:
            self.overhead = median(traced) - median(untraced)
        return {
            "cold_s": cold_s,
            "latency_p50_s": pct(warm, 50),
            "throughput_per_s": len(warm) / max(sum(warm), 1e-9),
            "detail": {
                "cold_pass_s": cold_s,
                "cold_query_s": cold,
                "suite_s": median(passes),
                "warm_passes": len(passes),
                "query_p50_s": pct(warm, 50),
                "query_p90_s": pct(warm, 90),
                "warm_executions": len(warm),
                "sf": self.sf,
            },
        }

    def check(self, spark, names=None) -> dict[str, str]:
        """Compare each collected result with its DuckDB oracle through
        ``tests.oracle_harness.compare``; returns the mismatches by
        query."""
        from streamandbatchprocessing_spark.queries import ORACLES
        from tests.oracle_harness import compare

        bad = {}
        for i, name in enumerate(names or self.names):
            oracle = ORACLES[name]
            if self.args.break_check and i == 0:
                oracle = f"SELECT * FROM ({oracle}) AS o LIMIT 0"
            result = self.collected.get(name)
            if result is None:
                continue  # the op failed; already counted
            try:
                compare(spark, self.data, name, lambda *_: result, oracle)
            except Exception as exc:  # noqa: BLE001
                bad[name] = f"{type(exc).__name__}: {exc}"[:500]
        return bad

    def wrong_ops(self, bad: dict) -> int:
        """Executions of queries whose output failed its check."""
        return sum(self.executions.get(name, 1) for name in bad)

    # -- traced run only ------------------------------------------------
    def probe(self, spark) -> tuple[dict, dict]:
        """Source scans and the corpus-pipeline probe (cold artifact
        builds, then each consumer once, oracle-checked). Returns the
        layer figures and the consumers' check failures."""
        from bench import _artifact_builders, _materialize_value
        from streamandbatchprocessing_spark.queries.dedup import shared_pairs_count
        from streamandbatchprocessing_spark.queries.registry import (
            release_session_artifacts,
        )
        from streamandbatchprocessing_spark.sources.batch import load_table

        out = {}
        t0 = time.perf_counter()
        for table in datagen.TABLES:
            load_table(spark, self.data, table).write.format("noop").mode(
                "overwrite").save()
        out["sources.scan_s"] = time.perf_counter() - t0

        release_session_artifacts(spark.sparkContext.applicationId)
        for kind, build in _artifact_builders():
            with self.tracer.op(f"artifact {kind}"):
                with self.tracer.span(f"queries.registry.{kind}.build_s"):
                    _materialize_value(build(spark, self.data))
        for name in PIPELINE:
            self._exec(spark, name, collect=True)
        c20 = len(self.collected["c20_containment_pairs"].collect())
        out["queries.c20_containment_pairs.yield"] = c20 / max(
            shared_pairs_count(spark, self.data), 1)
        return out, self.check(spark, PIPELINE)

    def span_layers(self) -> dict:
        from bench import _artifact_builders

        st = self.tracer.self_times()
        out = {"session.build_s": median(st.get("session.build_s", []))}
        for name in self.names + PIPELINE:
            for k in ("plan_s", "exec_s"):
                key = f"queries.{name}.{k}"
                out[key] = median(st.get(key, []))
        for kind, _ in _artifact_builders():
            key = f"queries.registry.{kind}.build_s"
            out[key] = median(st.get(key, []))
        return out

    def stream_layers(self, events: list[dict]) -> dict:
        """``streaming.pipeline.*`` from the f-query drains' progress:
        batches per drain, per-batch medians of the trigger phases, and
        the largest state."""
        from .eventlog import batch_phases

        drains = events  # this workload runs no other streaming query
        ph = batch_phases(drains)
        n = len({e.get("name") for e in drains})
        return {
            "streaming.pipeline.batches": len(drains) / n if n else 0.0,
            "streaming.pipeline.trigger_s": median(ph["trigger"]),
            "streaming.pipeline.add_batch_s": median(ph["add_batch"]),
            "streaming.pipeline.commit_s": median(ph["commit"]),
            "streaming.pipeline.planning_s": median(ph["planning"]),
            "streaming.pipeline.state_rows": max(ph["state_rows"], default=0.0),
        }
