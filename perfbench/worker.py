"""One benchmark run inside a fresh interpreter.

``perfbench/run.py`` starts this file with a pinned environment, samples
its memory from outside and prints the result; see README.md. The
worker writes one JSON document to ``--out`` and, for a traced run, the
spans next to it.

Timeline of a run (one client, closed loop):

1. setup, from process start: the session is built
   (``engine.build_session``, which launches the JVM) and the q01
   warm-up query is written. A second, warm q01 is the run's canary (for
   reading host steal, never used to drop a run);
2. an untimed pass: every query of a query workload against the DuckDB
   oracle, which also compiles what the timed passes run; for
   ``ingest``, the stream's first (cold) batch;
3. untimed warm-up passes, then timed ones (``PASSES``).
   A pass runs every query once in a per-pass seeded order, or lands
   ``BATCHES_PER_PASS`` batches, drains each, then compacts. ``ingest``
   ends with a final compaction and the survivor check.

In a traced run the middle pass is traced and the others are not, so
the per-layer numbers and the tracing overhead come from one session.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402
from spans import Counters, SparkStatus, Tracer, jvm_gc_seconds  # noqa: E402

SF_DIR = os.path.join(HERE, "data", "sf0.01")
#: (warm-up, timed) passes per workload, the same in both modes. Pass
#: walls keep falling over the first passes of a session (JIT and
#: Python-worker warm-up: an ``llm`` pass goes from about 7 s to 5.5 s
#: over four passes, the first timed ``ingest`` pass after the cold
#: drain is ~15 % slower than the next), and fall more slowly on a busy
#: host, so the early passes are untimed. An ``ingest`` pass is short
#: and varies ±10 % pass to pass, so it gets a fourth timed pass; an
#: ``llm`` run has no time for one (an hour holds 48 runs).
PASSES = {"llm": (1, 3), "ingest": (1, 4)}
#: Ingest pass: this many landed batches, each drained, then a compaction.
#: One keeps a run near a minute (an hour holds 48 runs): a drain takes
#: ~5 s, mostly fixed cost (28 jobs, cores 85 % idle).
BATCHES_PER_PASS = 1
SCHEMA = "doc_id bigint, text string"

now = time.perf_counter


def tail(samples: list[float]) -> dict:
    """The highest whole percentile with at least ten samples above it
    (nearest rank). Below 20 samples no percentile from the median up
    qualifies; the median is given then, and ``beyond`` says so."""
    xs = sorted(samples)
    n = len(xs)
    pct = next((p for p in range(99, 50, -1) if n - -(-p * n // 100) >= 10), 50)
    k = -(-pct * n // 100)
    return {"value": xs[k - 1], "pct": pct, "n": n, "beyond": n - k}


class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
        self.status: SparkStatus | None = None
        self.spark = None
        self.specs = None
        self.attempted = 0
        self.failures: list[str] = []
        self.info: dict = {}
        self.layers: dict = {}
        self.acc = _LayerAcc()
        self.walls: dict[bool, list[float]] = {False: [], True: []}
        self.ops: list[float] = []

    # -- setup ---------------------------------------------------------
    def setup(self, spawn_t: float) -> None:
        """Build the session and write the warm-up query, timed from
        process start; then a warm q01, the run's canary."""
        from xlearning_spark.engine import build_session

        tb = now()
        with self.tracer.span("engine.build_session"):
            self.spark = build_session(app_name=f"perfbench-{self.args.workload}")
        self.layers["engine.build_session_s"] = now() - tb
        self.spark.sparkContext.setLogLevel("ERROR")
        import xlearning_spark.queries  # noqa: F401  (fills the registry)
        from xlearning_spark.queries import registry

        self.specs = registry.specs()
        self.write_warmup()
        self.setup_s = time.time() - spawn_t
        t0 = now()
        self.write_warmup()
        self.info["canary_q01_s"] = now() - t0
        self.info["shuffle_partitions"] = self.spark.conf.get("spark.sql.shuffle.partitions")
        if self.args.trace:
            self.status = SparkStatus(self.spark)

    def write_warmup(self) -> None:
        self.spark.catalog.clearCache()
        self.specs[wl.WARMUP_QUERY].spark(self.spark, SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()

    # -- timed passes --------------------------------------------------
    def passes(self, one_pass) -> None:
        """The workload's ``PASSES``: untimed warm-up passes, then timed
        ones. A traced run traces a middle timed pass, so it sits
        between untraced ones for the overhead estimate. ``--seconds``
        is only an overrun limit: no pass starts once the passes have
        taken twice that long.

        ``one_pass(pass_no, traced)`` returns the pass wall, its
        operation times as ``(name, seconds)`` and a callable that adds
        the traced pass's layers."""
        warm, timed = PASSES[self.args.workload]
        start = now()
        pass_no = 0
        while pass_no < warm + timed and now() - start < 2 * self.args.seconds:
            traced = bool(self.args.trace) and pass_no == warm + timed // 2
            self.tracer.enabled = traced
            gc0 = jvm_gc_seconds(self.spark) if traced else 0.0
            windows = one_pass(pass_no, traced)
            pass_no += 1
            if pass_no <= warm:
                self.info.setdefault("warmup_walls_s", []).append(windows["wall"])
                continue
            self.walls[traced].append(windows["wall"])
            for name, dt in windows["ops"]:
                self.ops.append(dt)
                self.info.setdefault("op_s_by_query", {}).setdefault(name, []).append(dt)
            if traced:
                self.acc.add("engine.jvm_gc_s", jvm_gc_seconds(self.spark) - gc0)
                self.status.snapshot()
                windows["layers"]()
                self.acc.passes += 1
        self.tracer.enabled = bool(self.args.trace)
        self.info["passes"] = pass_no - warm
        self.info["pass_walls_s"] = {
            "untraced": self.walls[False],
            "traced": self.walls[True],
        }

    # -- query workloads -----------------------------------------------
    def check_queries(self, names: list[str]) -> None:
        """Untimed pass: each query hash-compared against the DuckDB
        oracle (a workload holds only oracle-backed queries)."""
        from xlearning_spark.testing import compare_query_record, duckdb_con

        con = duckdb_con(SF_DIR)
        for name in names:
            self.attempted += 1
            self.spark.catalog.clearCache()
            tq = now()
            try:
                rec = compare_query_record(self.spark, con, self.specs[name], SF_DIR)
            except Exception as e:  # counted as a failed operation
                self.failures.append(f"{name}: check raised {type(e).__name__}: {e}"[:500])
                continue
            if not (rec["rows_match"] and rec["schema_match"] and rec["hash_match"]):
                self.failures.append(f"{name}: oracle mismatch {rec}")
            self.info.setdefault("check_s_by_query", {})[name] = now() - tq

    def run_query(self, name: str, tag: str, traced: bool) -> list[float]:
        """Build, plan and run one query; the three step times."""
        spark, sc = self.spark, self.spark.sparkContext
        spark.catalog.clearCache()
        steps = []
        with self.tracer.span("query", query=name):
            t = now()
            for step in ("queries.build", "spark.plan", "spark.run"):
                with self.tracer.span(step):
                    if traced:
                        sc.setJobGroup(f"{tag}:{step}", name)
                    if step == "queries.build":
                        df = self.specs[name].spark(spark, SF_DIR)
                    elif step == "spark.plan":
                        df._jdf.queryExecution().executedPlan()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t1 = now()
                steps.append(t1 - t)
                t = t1
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return steps

    def read_tables(self, pass_no: int) -> list[str]:
        """One ``sources.read_table`` call per table the workload reads;
        the job groups they ran under."""
        from xlearning_spark.sources import read_table

        sc = self.spark.sparkContext
        groups = []
        for table in wl.TABLES_READ[self.args.workload]:
            groups.append(f"p{pass_no}:sources.read_table:{table}")
            sc.setJobGroup(groups[-1], table)
            t0 = now()
            with self.tracer.span("sources.read_table", table=table):
                read_table(self.spark, SF_DIR, table)
            self.acc.add("sources.read_table_s", now() - t0)
        sc.setLocalProperty("spark.jobGroup.id", None)
        return groups

    def query_workload(self) -> None:
        names = wl.QUERY_WORKLOADS[self.args.workload]
        t0 = now()
        self.check_queries(wl.query_order(names, self.args.seed, -1))
        self.info["check_s"] = now() - t0
        self.info["queries"] = len(names)

        def one_pass(pass_no: int, traced: bool) -> dict:
            read_groups = self.read_tables(pass_no) if traced else []
            done = []
            t0 = now()
            for name in wl.query_order(names, self.args.seed, pass_no):
                self.attempted += 1
                tag = f"p{pass_no}:{name}"
                try:
                    steps = self.run_query(name, tag, traced)
                except Exception as e:  # counted as a failed operation
                    self.failures.append(
                        f"{name}: pass {pass_no} raised {type(e).__name__}: {e}"[:500]
                    )
                    continue
                done.append((name, tag, steps))
            return {
                "wall": now() - t0,
                "ops": [(name, sum(steps)) for name, _, steps in done],
                "layers": lambda: self.query_layers(done, read_groups),
            }

        self.passes(one_pass)

    def query_layers(self, done, read_groups: list[str]) -> None:
        acc, status = self.acc, self.status
        for group in read_groups:
            acc.add("sources.read_table_jobs", status.counters_for_group(group).jobs)
        run_c = Counters()
        run_s = 0.0
        for name, tag, (build, plan, run) in done:
            acc.add("queries.build_s", build)
            acc.add("queries.op_s", build + plan + run)
            acc.add("spark.plan.s", plan)
            acc.add("queries.build_jobs", status.counters_for_group(f"{tag}:queries.build").jobs)
            run_c.add(status.counters_for_group(f"{tag}:spark.run"))
            run_s += run
            spec = self.specs[name]
            for fam in wl.families(spec.tags, spec.spark.__module__.rsplit(".", 1)[-1]):
                acc.add(f"operators.{fam}.s", build + plan + run)
        acc.add("spark.plan.nodes", run_c.plan_nodes)
        acc.add("spark.plan.codegen_stages", run_c.codegen_stages)
        acc.add_run(run_c, run_s)

    # -- ingest --------------------------------------------------------
    def drain(self, src: str, corpus: str, ckpt: str) -> None:
        """One ``neardup_ingest`` call: drains every landed file not yet
        committed, with the threshold and shingle size the generator's
        guarantees are stated for."""
        from xlearning_spark import streaming

        stream = self.spark.readStream.format("parquet").schema(SCHEMA).load(src)
        streaming.neardup_ingest(
            stream, corpus, ckpt, threshold=wl.THRESHOLD, shingle_size=wl.SHINGLE
        )

    def ingest_workload(self) -> None:
        from xlearning_spark import streaming

        base = os.path.join(self.args.work, "ingest")
        src, corpus, ckpt = (os.path.join(base, d) for d in ("src", "corpus", "ckpt"))
        gen = wl.IngestGenerator(self.args.seed)
        # The stream's first batch is drained untimed: it pays the cold
        # start of the dedup path, as the query workloads' check pass does.
        land(src, 0, gen.next_batch())
        t0 = now()
        self.drain(src, corpus, ckpt)
        busy = [now() - t0]
        self.layers["streaming.first_batch_s"] = busy[0]

        def one_pass(pass_no: int, traced: bool) -> dict:
            windows = []
            t_pass = now()
            for _ in range(BATCHES_PER_PASS):
                land(src, len(gen.plan.batch_sizes), gen.next_batch())
                self.attempted += 1
                w0, t0 = time.time(), now()
                try:
                    with self.tracer.span("streaming.neardup_ingest"):
                        self.drain(src, corpus, ckpt)
                except Exception as e:  # counted as a failed operation
                    self.failures.append(f"ingest: drain raised {type(e).__name__}: {e}"[:500])
                    continue
                windows.append(("drain", w0, time.time(), now() - t0))
            before = _parquet_files(corpus)
            w0, t0 = time.time(), now()
            with self.tracer.span("streaming.compact_batch_output"):
                streaming.compact_batch_output(self.spark, corpus)
            windows.append(("compact", w0, time.time(), now() - t0))
            busy[0] += sum(w[3] for w in windows)
            return {
                "wall": now() - t_pass,
                "ops": [("drain", w[3]) for w in windows if w[0] == "drain"],
                "layers": lambda: self.ingest_layers(windows, before, corpus),
            }

        self.passes(one_pass)
        t0 = now()
        streaming.compact_batch_output(self.spark, corpus, upto_batch=2**31 - 1)
        busy[0] += now() - t0
        self.check_ingest(gen, corpus, busy[0])
        self.info["batches"] = len(gen.plan.batch_sizes)
        self.info["batch_rows"] = wl.BATCH_ROWS

    def ingest_layers(self, windows, files_before: int, corpus: str) -> None:
        acc, status = self.acc, self.status
        run_c = Counters()
        drains = []
        for kind, w0, w1, dt in windows:
            c = status.counters_between(w0, w1)
            run_c.add(c)
            if kind == "drain":
                drains.append(dt)
                acc.add("streaming.jobs_per_batch", c.jobs / BATCHES_PER_PASS)
                acc.add("operators.dedup.s", dt)
            else:
                acc.add("streaming.compact_batch_output_s", dt)
        if drains:
            acc.add("streaming.neardup_ingest_s", statistics.median(drains))
        acc.add("streaming.files_before_compact", files_before)
        acc.add("streaming.files_after_compact", _parquet_files(corpus))
        acc.add(
            "streaming.compact_bytes_rewritten",
            _dir_bytes(corpus, lambda f: f.startswith("base-") and f.endswith(".parquet")),
        )
        acc.add_run(run_c, sum(w[3] for w in windows))

    def check_ingest(self, gen, corpus: str, busy_s: float) -> None:
        """The landed id set must be exactly the generator's survivors,
        each once (so the dropped share is the planted share)."""
        self.attempted += 1
        plan = gen.plan
        ids = [r[0] for r in self.spark.read.parquet(corpus).select("doc_id").collect()]
        if len(ids) != len(set(ids)) or set(ids) != plan.survivors:
            self.failures.append(
                f"ingest: landed {len(ids)} rows / {len(set(ids))} ids, "
                f"expected {len(plan.survivors)} survivors"
            )
        offered = sum(plan.batch_sizes)
        self.layers["streaming.dup_drop_frac"] = 1 - len(ids) / offered
        self.layers["streaming.docs_per_s"] = offered / busy_s
        self.layers["streaming.stored_bytes_per_doc_byte"] = (
            _dir_bytes(corpus) / gen.survivor_text_bytes()
        )
        self.info["planted_share"] = plan.planted_rows / offered

    # -- result --------------------------------------------------------
    def result(self) -> dict:
        layers = dict(self.layers)
        if self.args.trace:
            layers.update(self.acc.per_pass())
            if self.walls[True] and self.walls[False]:
                layers["trace.overhead_s"] = statistics.median(
                    self.walls[True]
                ) - statistics.median(self.walls[False])
        # ingest's docs/s and storage ratio are printed in both modes.
        for k in ("streaming.docs_per_s", "streaming.stored_bytes_per_doc_byte"):
            if k in layers:
                self.info[k] = layers[k]
        return {
            "attempted": self.attempted,
            "failed": len(self.failures),
            "failures": self.failures,
            "e2e": {
                "setup_s": self.setup_s,
                "wall_s": statistics.median(self.walls[False] or self.walls[True]),
                "op_p50_s": statistics.median(self.ops),
            },
            "tail": tail(self.ops),
            "info": self.info,
            "layers": layers,
        }


class _LayerAcc:
    """Sums per-layer numbers over the traced passes; reports per pass."""

    def __init__(self):
        self.sums: dict[str, float] = {}
        self.passes = 0

    def add(self, key: str, value: float) -> None:
        self.sums[key] = self.sums.get(key, 0) + value

    def add_run(self, c: Counters, run_wall: float) -> None:
        self.add("spark.run.s", run_wall)
        self.add("spark.run.jobs", c.jobs)
        self.add("spark.run.stages", c.stages)
        self.add("spark.run.tasks", c.tasks)
        self.add("spark.run.executor_run_s", c.executor_run_s)
        self.add("spark.run.executor_cpu_s", c.executor_cpu_s)
        self.add("spark.run.shuffle_read_bytes", c.shuffle_read_bytes)
        self.add("spark.run.shuffle_write_bytes", c.shuffle_write_bytes)
        self.add("spark.run.spill_bytes", c.spill_bytes)

    def per_pass(self) -> dict:
        n = max(self.passes, 1)
        out = {k: v / n for k, v in self.sums.items()}
        slots = out.get("spark.run.s", 0.0) * int(os.environ["SPARK_GRAFT_CPUS"])
        if slots:
            out["spark.run.core_idle_frac"] = 1 - out["spark.run.executor_run_s"] / slots
        op = out.pop("queries.op_s", 0.0)
        if op:
            out["queries.build_share"] = out["queries.build_s"] / op
        return out


def land(src: str, i: int, rows) -> None:
    """Write one batch as a parquet file, atomically: the stream source
    skips dot-files, so the file appears whole with the rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    tmp = os.path.join(src, f".batch-{i:05d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src, f"batch-{i:05d}.parquet"))


def _parquet_files(d: str) -> int:
    return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))


def _dir_bytes(d: str, keep=lambda f: True) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(d)
        for f in files
        if keep(f)
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run = Run(args)
    run.setup(float(os.environ["PERFBENCH_SPAWN_T"]))
    if args.workload == "ingest":
        run.ingest_workload()
    else:
        run.query_workload()
    result = run.result()
    run.spark.stop()
    if args.trace:
        run.tracer.dump(args.out + ".spans.json")
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
