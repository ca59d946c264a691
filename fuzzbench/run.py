"""Fuzzy-join benchmark: one workload per run, seeded inputs, checked outputs.

Run from the repository root:

    python3 fuzzbench/run.py --workload exact_names --seed 1 --seconds 8 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
traced run (see README.md). Everything the run writes stays under
``.fuzzbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from check import check_output  # noqa: E402
from gen import Inputs, generate  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

# warm-up join input (left keys, right rows): small enough that its
# output is brute-forced on every run
WARMUP_SIZE = (300, 200)
MIN_JOINS = 3
MAX_FAILURES = 3
# kernel probes score at most this many pairs of the captured frame
PROBE_PAIRS = 200_000
PROBE_PASSES = 3
DRIVER_MEM = "4g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(root: str, work: str) -> None:
    """Environment for the driver JVM and its Python workers, set before
    pyspark starts anything."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    # pandas-UDF workers import the engine by module name
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the engine pins -Xms to its default 12g heap; RSS then grows to most
    # of that. A smaller pinned heap keeps runs small on shared hosts.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def write_inputs(inputs: Inputs, work: str, tag: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for side, table, prefix in (("left", inputs.left, ""), ("right", inputs.right, "r")):
        path = os.path.join(work, f"{tag}_{side}.parquet")
        pq.write_table(
            pa.table({
                prefix + "id": pa.array(table.ids, pa.int64()),
                prefix + "name": table.name,
                prefix + "address": table.address,
                prefix + "country": table.country,
            }),
            path,
        )
        paths.append(path)
    return paths


def make_inputs(wl: Workload, seed: int):
    full = generate(seed, wl.n_left_keys, wl.n_right, dup=wl.dup, n_countries=wl.n_countries)
    warm = generate(seed + 1, *WARMUP_SIZE, dup=wl.dup, n_countries=wl.n_countries)
    return full, warm


def distinct_key_pairs(wl: Workload, inputs: Inputs) -> int:
    lead = next(m for m in wl.mappings if m[1] < 100)[0]
    return len(set(getattr(inputs.left, lead))) * len(set(getattr(inputs.right, lead)))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def shutdown_jvm() -> None:
    """Stop the Spark context and the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.problems = []
        self.spans_path = os.path.join(
            os.path.dirname(work), f"spans-{args.workload}-seed{args.seed}.jsonl"
        )

    # -- engine calls -------------------------------------------------
    def _maps(self):
        from pl_fuzzy_frame_match_spark import FuzzyMapping

        return [FuzzyMapping(f, "r" + f, t, m) for f, t, m in self.wl.mappings]

    def _join(self, left, right):
        from pl_fuzzy_frame_match_spark import fuzzy_match_dfs

        return fuzzy_match_dfs(left, right, self._maps())

    def _read(self, paths):
        return tuple(self.spark.read.parquet(p) for p in paths)

    def _record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def _check(self, out_pdf, inputs: Inputs, brute_force: bool, what: str):
        res = check_output(out_pdf, inputs, self.wl, brute_force, self.rng)
        self._record(res.ok, f"{what}: {res.problems}")
        return res

    # -- phases ---------------------------------------------------------
    def setup(self) -> float:
        """The cold set-up, timed: start the JVM and the session with
        ``get_spark``, generate and write the inputs, read them back, run
        and collect the warm-up join. That first join pays the one-off
        costs of a fresh process: the native-kernel compile, the Python
        worker start and the JIT."""
        from pl_fuzzy_frame_match_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("fuzzbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        full, warm = make_inputs(self.wl, self.args.seed)
        full_paths = write_inputs(full, self.work, "full")
        warm_paths = write_inputs(warm, self.work, "warm")
        out = self._join(*self._read(warm_paths)).toPandas()
        elapsed = time.perf_counter() - t0
        self._check(out, warm, brute_force=True, what="warm-up join")
        self.full = full
        self.full_frames = self._read(full_paths)
        return elapsed

    def checked_join(self):
        """One untimed join of the full inputs, collected and checked."""
        t0 = time.perf_counter()
        out = self._join(*self.full_frames).toPandas()
        elapsed = time.perf_counter() - t0
        res = self._check(out, self.full, self.wl.brute_force, "checked join")
        return res, elapsed, len(out)

    def timed_join(self) -> float:
        t0 = time.perf_counter()
        self._join(*self.full_frames).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def window(self, step) -> None:
        """Closed loop, one client: call ``step`` until the run's seconds
        are spent (and at least MIN_JOINS times)."""
        end = time.perf_counter() + self.args.seconds
        done = 0
        while done < MIN_JOINS or time.perf_counter() < end:
            try:
                step()
                done += 1
                self.attempted += 1
            except Exception:
                traceback.print_exc()
                self._record(False, "join raised")
                if self.failed > MAX_FAILURES:
                    break

    # -- runs -----------------------------------------------------------
    def run_untraced(self, setup_s, check, info) -> dict:
        joins = []
        self.window(lambda: joins.append(self.timed_join()))
        info["join_s"] = joins
        p50 = median(joins)
        return {
            "setup_s": (setup_s, "s"),
            "join_s_p50": (p50, "s"),
            "pairs_per_s": (distinct_key_pairs(self.wl, self.full) / p50, "pairs/s"),
            "recall": (check.recall, "ratio"),
            "peak_rss_mb": (jvm_peak_rss_mb(self.spark), "MB"),
        }

    def run_traced(self, info) -> dict:
        import pl_fuzzy_frame_match_spark.operators.matcher as matcher_mod

        from tracing import JobCounter, Tracer, install, join_breakdown, median_of

        tracer = Tracer()
        counter = JobCounter(self.spark.sparkContext)
        plain, job_counts = [], []
        calls = [0]

        def untraced():
            before = counter.mark()
            plain.append(self.timed_join())
            job_counts.append(counter.since(before))

        def traced():
            undo = install(tracer, matcher_mod)
            try:
                with tracer.join(calls[0]):
                    out = self._join(*self.full_frames)
                    with tracer.span("matcher.payload"):
                        out.write.format("noop").mode("overwrite").save()
            finally:
                undo()

        def alternate():
            calls[0] += 1
            (traced if calls[0] % 2 == 0 else untraced)()

        self.window(alternate)
        rows = join_breakdown(tracer.spans)
        tracer.dump(self.spans_path)
        if not rows or not plain:
            raise RuntimeError("traced run completed no joins")
        metrics = {
            name: (median_of(rows, name), "s")
            for name in rows[0]
            if name.endswith("_s") and name != "trace.join_s"
        }
        counts = [r["counts"] for r in rows]

        def med_count(key):
            return float(median(c.get(key, 0) for c in counts))

        keys, key_rows = med_count("keys"), med_count("key_rows")
        traced_p50 = median_of(rows, "trace.join_s")
        metrics.update({
            "trace.join_s_p50": (traced_p50, "s"),
            "tracing_overhead_s": (traced_p50 - median(plain), "s"),
            "matcher.key_dedup_ratio": (keys / key_rows if key_rows else 0.0, "ratio"),
            "candidates.pairs": (med_count("candidate_pairs"), "count"),
            "candidates.ann_survivors": (med_count("ann_survivors"), "count"),
            "matcher.refine_pairs_in": (med_count("refine_pairs_in"), "count"),
            "matcher.refine_pairs_out": (med_count("refine_pairs_out"), "count"),
        })
        for key in ("spark_jobs", "spark_stages", "spark_tasks"):
            metrics["matcher." + key] = (float(median(c[key] for c in job_counts)), "count")
        metrics.update(self.kernel_probes(tracer, metrics))
        info["untraced_join_s"] = plain
        info["traced_joins"] = len(rows)
        info["job_counts"] = job_counts
        return metrics

    def kernel_probes(self, tracer, metrics) -> dict:
        """Distance kernels timed alone over the pairs the first traced
        join scored, pre-materialized."""
        from pyspark.sql import functions as F

        from pl_fuzzy_frame_match_spark.functions.kernels import distance_column
        from oracle import distance_bound

        lead = next(m for m in self.wl.mappings if m[1] < 100)
        bound = distance_bound(lead[1])
        # spread over the cores, as the engine runs the kernels
        frame = (
            tracer.captured["probe"].limit(PROBE_PAIRS)
            .repartition(self.spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        n = frame.count()
        out = {}
        for metric, key in (("levenshtein", "kernels.lev_pairs_per_s"),
                            ("jaro_winkler", "kernels.jw_pairs_per_s")):
            scored = frame.select(distance_column(metric, F.col("a"), F.col("b"), bound))
            passes = []
            # the first pass also pays worker start and native compile
            for _ in range(PROBE_PASSES):
                t0 = time.perf_counter()
                scored.write.format("noop").mode("overwrite").save()
                passes.append(time.perf_counter() - t0)
            out[key] = (n / median(passes), "pairs/s")
        if "ann_call" in tracer.captured:
            # the sketch scan scores inside its kernel: count what it
            # scores by asking for every candidate (bound 1.0)
            from pl_fuzzy_frame_match_spark.operators.candidates import approx_scored_pairs

            args, kwargs = tracer.captured["ann_call"]
            scored = approx_scored_pairs(*args[:5], 1.0, *args[6:], **kwargs).count()
            survivors = metrics["candidates.ann_survivors"][0]
        else:
            d = distance_column(lead[2], F.col("a"), F.col("b"), bound)
            scored, survivors = n, frame.filter(d <= F.lit(bound)).count()
        out["kernels.survivor_ratio"] = (survivors / scored if scored else 0.0, "ratio")
        return out

    def run(self) -> dict:
        import pyspark

        t0 = time.perf_counter()
        setup_s = self.setup()
        # the checked join also warms the JIT on the full inputs
        check, check_s, check_rows = self.checked_join()
        info = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": self.spark.conf.get("spark.driver.memory", "default"),
            "jvm_max_heap_mb": self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
            "pyspark": pyspark.__version__,
            "setup_s": setup_s,
            "checked_join_s": check_s,
            "checked_join_rows": check_rows,
            "eligible_planted_pairs": check.eligible,
        }
        if self.args.trace:
            metrics = self.run_traced(info)
        else:
            metrics = self.run_untraced(setup_s, check, info)
        info["problems"] = self.problems
        info["total_s"] = time.perf_counter() - t0
        print(json.dumps({"info": info}), flush=True)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    # fail fast (and before any set-up) when the engine is not importable
    sys.path.insert(0, root)
    import pl_fuzzy_frame_match_spark  # noqa: F401

    work = os.path.join(root, ".fuzzbench_work", str(os.getpid()))
    configure_env(root, work)
    try:
        result = Bench(args, work).run()
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
