"""Seeded benchmark of the bdtopo2refhydro_spark engine.

    python3 perfbench/run.py --workload hydro_network --seed 1 \\
        --seconds 3 --trace 0

One closed-loop client: a single Spark session (local[nproc // 2]) runs
the workload back to back. A run

  1. starts the session, generates the seeded inputs, writes them as
     parquet and reads them back;
  2. warms up with the workload's `warmup_runs` whole runs, then
     computes the expected outputs once by an independent path
     (perfbench/oracle.py) and checks the warm-up runs against them;
  3. times whole workload runs for --seconds seconds (at least one),
     checking every output of every run;
  4. with --trace 1, runs the workload once more with every plan and
     operator call it makes wrapped in a span (tracing.traced_stages) and
     reports the per-layer metrics; a trace file with every span and
     count is written to .perfbench/traces/.

The last line of stdout is one JSON object {correct, attempted, failed,
metrics}; the line before it is a JSON summary with the settings, sizes,
quartiles and, for traced runs, every per-layer number.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from check import fingerprint, mismatches

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "bdtopo2refhydro_spark"

END_TO_END = {"setup_s": "s", "wall_s": "s", "input_rows_per_s": "1/s",
              "peak_rss_mb": "MB"}
# every traced run reports all of these; a count that a workload does not
# exercise reads 0. Per-operator self times, UDF seconds and the geom
# kernel timings exist only on some workloads, so they are kept in the
# trace file instead (a time that is structurally 0 is not a measurement)
PER_LAYER = {
    "session.start_s": "s", "sources.read_s": "s", "sources.input_mb": "MB",
    "operators.self_s": "s", "trace.replay_s": "s", "trace.overhead_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "functions.udf_rows": "count",
    "spatial.candidates": "count", "spatial.hits": "count",
    "spatial.hit_ratio": "ratio", "spatial.knn_candidates_per_query": "count",
    "relational.rows_out": "count", "graph.rounds": "count",
    "graph.local_calls": "count", "graph.adj_rows": "count",
    "orders.segment_rows": "count", "cdc.delta_rows": "count",
    "text.exact_flagged": "count", "text.near_flagged": "count",
}


def launch_settings(work: str) -> dict:
    """Session settings derived from the machine: one pandas-UDF slot is
    a JVM thread plus a Python worker, so use half the CPUs; keep the
    driver heap at or below half of RAM."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = f"{min(2048, ram // 2 // 2 ** 20)}m"
    tmp = os.path.join(work, "tmp")
    settings = {
        "cpus": cpus,
        "cores": max(1, cpus // 2),
        "ram_gib": round(ram / 2 ** 30, 1),
        "SPARK_DRIVER_MEM": mem,
        # a lazily grown heap makes the RSS depend on GC timing (peaks
        # spread by 13% across seeds); a fixed, pre-touched heap leaves the
        # RSS to what varies with the work: Python workers and off-heap.
        # The JVM's temp files (native libs, artifacts) stay in the work dir
        "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch "
        f"-XX:-UsePerfData -Djava.io.tmpdir=\"{tmp}\"",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
    }
    for k in ("SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "TMPDIR", "PYTHONPATH"):
        os.environ[k] = settings[k]
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[k], exist_ok=True)
    return settings


def quartiles(xs: list[float]) -> dict:
    """Median and quartiles, plus the highest percentile with at least
    ten samples beyond it when there are enough samples."""
    out = {"n": len(xs), "median": statistics.median(xs)}
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        out.update(q1=q1, q3=q3)
    if len(xs) >= 20:
        pct = int(100 * (1 - 10 / len(xs)))
        out[f"p{pct}"] = sorted(xs)[int(len(xs) * pct / 100) - 1]
    return out


class Bench:
    def __init__(self, args, work: str, settings: dict):
        self.args = args
        self.work = work
        self.settings = settings
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.group_tags: list[str] = []

    # ------------------------------------------------------------ helpers

    def _group(self, tag: str):
        def set_group(call: str) -> None:
            name = f"{tag}:{call}"
            if self.args.trace:
                self.group_tags.append(name)
            self.sc.setJobGroup(name, call)
        return set_group

    def iteration(self, tag: str) -> tuple[float, dict]:
        """One whole workload run: every public call, every output forced
        through its fingerprint."""
        from bdtopo2refhydro_spark.operators._ckpt import release_all_persistent

        group = self._group(tag)
        t = time.perf_counter()
        fps = {}
        for out, df in self.wl.fused(self.d, group):
            group(f"force.{out}")
            fps[out] = fingerprint(df, **self.fp_opts.get(out, {}))
        wall = time.perf_counter() - t
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        release_all_persistent(self.spark)
        self.spark.catalog.clearCache()
        return wall, fps

    def check(self, fps: dict) -> None:
        for out in sorted(set(self.expected) | set(fps)):
            exp = self.expected.setdefault(out, {})
            for k, v in fps.get(out, {}).items():
                exp.setdefault(k, v)  # what the oracle leaves open
            self.attempted += 1
            bad = mismatches(fps.get(out, {}), exp)
            if bad:
                self.failed += 1
                self.errors.append(f"{out}: " + "; ".join(bad))

    def try_iteration(self, tag: str) -> tuple[float | None, dict | None]:
        try:
            return self.iteration(tag)
        except Exception:  # a failed run is counted, never fatal
            n = len(self.expected) or 1
            self.attempted += n
            self.failed += n
            self.errors.append(traceback.format_exc(limit=3))
            return None, None

    def checked_iteration(self, tag: str) -> float | None:
        wall, fps = self.try_iteration(tag)
        if fps is not None:
            self.check(fps)
        return wall

    # --------------------------------------------------------------- phases

    def setup(self) -> None:
        import gen
        from bdtopo2refhydro_spark.session import get_spark
        from workloads import WORKLOADS

        self.wl = WORKLOADS[self.args.workload]
        t = time.perf_counter()
        cores = self.settings["cores"]
        self.spark = get_spark(
            f"perfbench-{self.wl.name}", cores=cores,
            shuffle_partitions=cores,
            extra_conf={"spark.driver.extraJavaOptions":
                        self.settings["spark.driver.extraJavaOptions"],
                        "spark.ui.retainedJobs": "100000",
                        "spark.ui.retainedStages": "100000",
                        "spark.sql.ui.retainedExecutions": "100000"})
        self.sc = self.spark.sparkContext
        self.session_s = time.perf_counter() - t
        t = time.perf_counter()
        self.tables, self.info = gen.write_inputs(
            self.wl.name, self.args.seed, self.wl.size,
            os.path.join(self.work, "inputs"))
        t_read = time.perf_counter()
        self.d = self.wl.load(self.spark, self.info)
        self.input_rows = sum(self.spark.read.parquet(
            self.info[k]["path"]).count() for k in self.wl.rows_table)
        now = time.perf_counter()
        self.prep_s, self.read_s = now - t, now - t_read
        self.fp_opts = self.wl.fingerprint_options(self.tables, self.args.seed)
        self.expected = {}

    def warm_up(self) -> None:
        """The workload's `warmup_runs` whole runs (README.md says why
        each workload has its count). The expected outputs are computed
        after them, when their few Spark jobs no longer pay the cold
        start, and the warm-up runs are then checked against them."""
        runs = [self.try_iteration(f"warm{i}")
                for i in range(self.wl.warmup_runs)]
        self.warm_walls = [w for w, _ in runs if w is not None]
        t = time.perf_counter()
        self.expected.update(self.wl.expected(self.spark, self.tables,
                                              self.args.seed))
        self.oracle_s = time.perf_counter() - t
        for _, fps in runs:
            if fps is not None:
                self.check(fps)

    def timed(self) -> None:
        from tracing import RssSampler, SqlMetrics

        self.sql = SqlMetrics(self.spark) if self.args.trace else None
        if self.sql:
            self.sql.mark()
        self.walls = []
        root = self.sc._gateway.proc.pid
        with RssSampler(root) as rss:
            t0 = time.perf_counter()
            i = 0
            while not self.walls or time.perf_counter() - t0 < self.args.seconds:
                wall = self.checked_iteration(f"timed{i}")
                i += 1
                if wall is not None:
                    self.walls.append(wall)
                elif i >= 3 and not self.walls:
                    break  # nothing completes: stop instead of spinning
        self.peak_rss = rss.peak
        self.n_timed = i

    def traced(self) -> dict:
        """The workload once more, stage by stage under spans; per-layer
        numbers."""
        from bdtopo2refhydro_spark.operators._ckpt import release_all_persistent
        from tracing import (Tracer, group_counts, sum_metric, traced_stages,
                             udf_profile_seconds)

        # runtime counts of the fused runs, one job group per call
        per_iter: dict[str, dict[str, int]] = {}
        for g in self.group_tags:
            it = g.split(":", 1)[0]
            c = group_counts(self.sc, g)
            agg = per_iter.setdefault(it, dict.fromkeys(c, 0))
            for k, v in c.items():
                agg[k] += v
        fused_nodes = self.sql.collect()
        n_timed = max(1, self.n_timed)
        timed_iters = [v for k, v in per_iter.items() if k.startswith("timed")]
        spark_counts = {f"spark.{k}": statistics.median(
            d[k] for d in timed_iters) for k in timed_iters[0]} \
            if timed_iters else {}
        repeats = {f"spark.{k}": len({d[k] for d in per_iter.values()}) == 1
                   for k in (timed_iters[0] if timed_iters else {})}
        spark_counts["spark.shuffle_write_mb"] = sum_metric(
            fused_nodes, "shuffle bytes written") / n_timed / 2 ** 20
        spark_counts["spark.spill_mb"] = sum_metric(
            fused_nodes, "spill size") / n_timed / 2 ** 20

        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        udf_profile_seconds(self.spark)  # drop profiles of earlier runs
        tr = Tracer(self.spark, "replay")
        stages: dict = {}
        metrics: list = []
        fps = {}
        t = time.perf_counter()
        with traced_stages(tr, self.wl.calls, stages, metrics):
            for out, df in self.wl.fused(self.d, lambda call: None):
                with tr.span(f"check.{out}"):
                    fps[out] = fingerprint(df, **self.fp_opts.get(out, {}))
        replay_s = time.perf_counter() - t
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        udf_s = udf_profile_seconds(self.spark)

        # SQL metrics of every execution, attributed to the span whose
        # job group ran its first job
        job_span = {}
        for s in tr.spans:
            for j in self.sc.statusTracker().getJobIdsForGroup(s["group"]):
                job_span[j] = s["name"]
        nodes_by_span: dict[str, list] = {}
        for n in self.sql.collect():
            span = next((job_span[j] for j in n["jobs"] if j in job_span), None)
            nodes_by_span.setdefault(span, []).append(n)
        replay_nodes = [n for ns in nodes_by_span.values() for n in ns]

        counts = self.wl.counts(stages, nodes_by_span, metrics)
        release_all_persistent(self.spark)
        replay_ok = {out: mismatches(fps.get(out, {}), exp)
                     for out, exp in self.expected.items()}
        self.replay_ok = not any(replay_ok.values())

        self_s = tr.self_times()
        layer_s: dict[str, float] = {}
        for name, v in self_s.items():
            layer = ".".join(name.split(".")[:2]) \
                if name.startswith("operators.") else name.split(".")[0]
            layer_s[layer] = layer_s.get(layer, 0.0) + v
        per_layer = {
            "session.start_s": self.session_s,
            "sources.read_s": self.read_s,
            "sources.input_mb": sum(v["bytes"] for v in self.info.values())
            / 2 ** 20,
            "operators.self_s": sum(v for k, v in layer_s.items()
                                    if k.startswith("operators.")),
            "trace.replay_s": replay_s,
            "trace.overhead_s": replay_s - statistics.median(self.walls),
            "functions.udf_rows": sum_metric(
                replay_nodes, "number of output rows", name="ArrowEvalPython"),
            **spark_counts,
            **counts,
        }
        trace = {
            "spans": tr.spans,
            "self_s": self_s,
            "layer_self_s": layer_s,
            "functions.udf_s": udf_s,
            "job_counts_by_span": tr.job_counts(),
            "fused_job_counts_by_run": per_iter,
            "counts_repeat_exactly": repeats,
            "graph.traversals": [r for m in metrics for r in m.rounds],
            "replay_fingerprints": fps,
            "replay_mismatches": replay_ok,
            "geom": self.wl.geom_microbench(self.tables),
        }
        return per_layer, trace

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for all."""
        from tracing import children_map

        if not hasattr(self, "sc"):
            return
        gw = self.sc._gateway
        proc = gw.proc
        kids, todo = [], [proc.pid]
        tree = children_map()
        while todo:
            pid = todo.pop()
            kids.extend(tree.get(pid, ()))
            todo.extend(tree.get(pid, ()))
        self.spark.stop()
        gw.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.time() + 15
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["hydro_network", "pages_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found in {REPO}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [REPO, HERE]
    work = os.path.join(REPO, ".perfbench", f"{args.workload}-{args.seed}-"
                        f"{os.getpid()}")
    settings = launch_settings(work)
    b = Bench(args, work, settings)
    try:
        b.setup()
        try:
            b.warm_up()
            b.timed()
            per_layer, trace = b.traced() if args.trace else ({}, None)
        finally:
            b.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": settings, "closed_loop_clients": 1,
        "inputs": {k: {"rows": v["rows"], "bytes": v["bytes"]}
                   for k, v in b.info.items()},
        "input_rows": b.input_rows,
        "setup": {"session_s": b.session_s, "prepare_s": b.prep_s,
                  "warmup_walls_s": b.warm_walls,
                  "oracle_s": b.oracle_s},
        "wall_s": quartiles(b.walls) if b.walls else None,
        "timed_walls_s": b.walls,
        "timed_runs": b.n_timed,
        "failed_frac": b.failed / max(b.attempted, 1),
        "errors": b.errors[:5],
    }
    if not b.walls:  # nothing to report: no timed run completed
        print(json.dumps(summary, default=str))
        return 1
    wall = statistics.median(b.walls)
    values = {
        "setup_s": b.session_s + b.prep_s + sum(b.warm_walls),
        "wall_s": wall,
        "input_rows_per_s": b.input_rows / wall,
        "peak_rss_mb": b.peak_rss / 2 ** 20,
    }
    summary["end_to_end"] = {
        k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    summary["end_to_end"]["failed_frac"] = {
        "value": summary["failed_frac"], "unit": "ratio"}
    units = END_TO_END
    if args.trace:
        summary["replay_matches_timed"] = b.replay_ok
        tdir = os.path.join(REPO, ".perfbench", "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"summary": summary, "per_layer": per_layer, **trace},
                      f, default=str)
        summary.update(trace_file=os.path.relpath(path, REPO),
                       layer_self_s=trace["layer_self_s"],
                       self_s=trace["self_s"],
                       udf_s=trace["functions.udf_s"], geom=trace["geom"],
                       counts_repeat_exactly=trace["counts_repeat_exactly"])
        values = {k: per_layer.get(k, 0) for k in PER_LAYER}
        units = PER_LAYER
    correct = b.failed == 0 and (not args.trace or b.replay_ok)
    print(json.dumps(summary, default=str))
    print(json.dumps({"correct": correct, "attempted": b.attempted,
                      "failed": b.failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
