"""Extraction benchmark for ppocr-spark on local[nproc].

    python3 perfbench/run.py --workload shared_media --seed 1 --seconds 10 --trace 0

Builds the named workload from ``--seed``, runs the extraction pipeline
on ``local[nproc]`` in a closed loop (one batch job per timed pass, the
driver as the only client), checks every span of every pass against the
expected spans, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": <passes>, "failed": <passes>, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
passes, then three passes tagged with Spark job groups whose stage tables
it reads from Spark's status REST API, a ``run_resumable`` call split into
its phases, and a solo kernel replay, and reports the per-layer metrics
(names and units of both sets come from ``BENCHMARK.json``). The
span trace, the REST snapshots and the host context are written to
``.bench_build/perfbench/traces/``.

Everything is measured from outside the program: the benchmark times calls
into ``pipeline.build_session``, ``warm_workers``, ``extract_documents``,
``checkpoint.run_resumable`` and the kernel operators, and reads Spark's
own REST API. Rendered media pools are cached in
``.bench_build/perfbench/pools/`` (the first run renders them).
"""

from __future__ import annotations

import os

# BLAS must be single-threaded before numpy is first imported: the driver
# side kernel replay runs in this process, and local-mode Python workers
# inherit this environment
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PASSES = 2  # timed passes per run, even past --seconds
TRACED_PASSES = 3  # job-group-tagged passes in a traced run
REPLAY_SPANS = 48  # media requests in the solo kernel replay


def metric_units(trace: int) -> dict:
    """Name → unit of the metrics a run reports, from BENCHMARK.json:
    the end-to-end ones, or with tracing the per-layer ones."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    from workload import SHAPES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SHAPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "ppocr_spark", "pipeline.py")):
        print("perfbench: ppocr_spark/ not found beside perfbench/",
              file=sys.stderr)
        return 2
    args = parse_args(argv)
    # a terminated run still stops Spark and its JVM (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(build, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # workers import the engine from the checkout; scratch stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        "pyspark-shell")
    sys.path.insert(0, ROOT)
    try:
        result = run(args, build, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


class Bench:
    """One benchmark run: a workload, its inputs and a Spark session."""

    def __init__(self, args, build: str, work: str):
        import workload

        self.args = args
        self.work = work
        self.shape = workload.SHAPES[args.workload]
        self.cfg = workload.engine_config()
        self.cores = len(os.sched_getaffinity(0))
        pools = workload.ensure_pools(os.path.join(build, "pools"))
        self.wl = workload.build(args.workload, args.seed, pools)
        self.docs_path, self.media_path = workload.write_inputs(
            self.wl, os.path.join(work, "inputs"))
        self.raw = {(d["doc_id"], s["offset"]): s["text"]
                    for d in self.wl.documents for s in d["spans"]
                    if s["kind"] == "text"}
        self.n_docs = len(self.wl.documents)
        self.n_media = len(self.wl.media_spans)
        self.spark = None
        self.snapshots: dict = {}

    def set_up(self, tracer) -> None:
        from ppocr_spark.pipeline import build_session, warm_workers

        with tracer.span("setup.build_session", "setup"):
            self.spark = build_session("perfbench", cores=self.cores,
                                       cfg=self.cfg)
            self.spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("setup.warm_workers", "setup"):
            warm_workers(self.spark)
        with tracer.span("setup.input_load", "setup"):
            self.docs = self.spark.read.parquet(self.docs_path)
            self.media = self.spark.read.parquet(self.media_path)

    def tear_down(self) -> None:
        """Stop the session, then end the driver JVM and wait for it."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        self.spark = None

    def job_group(self, group: str | None) -> None:
        """Tag the actions run until the next call (None clears the tag)."""
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def one_pass(self, tag: str, tracer, group: str | None = None):
        """Run one batch job over the whole workload and check its output.
        → (wall seconds or None when the job raised, check report, out dir)."""
        import check
        import pyarrow.parquet as pq
        from ppocr_spark.checkpoint import run_resumable
        from ppocr_spark.pipeline import extract_documents

        out = os.path.join(self.work, f"out-{tag}")
        if group:
            self.job_group(group)
        cpu0 = tracing.cpu_times()
        try:
            with tracer.span("pass", tag) as span:
                if self.shape.resumable:
                    run_resumable(self.spark, self.docs, self.media, out,
                                  self.cfg)
                else:
                    table = extract_documents(self.docs, self.media,
                                              self.cfg).toArrow()
            span.update(tracing.cpu_split(cpu0, tracing.cpu_times()))
            if self.shape.resumable:
                table = pq.read_table(os.path.join(out, "results"),
                                      columns=["doc_id", "spans"])
            rep = check.compare(self.wl.expected,
                                check.rows_to_docs(table.to_pylist()),
                                self.raw, self.n_media)
        except Exception:
            traceback.print_exc()
            return None, check.failed_pass(self.wl.expected, self.n_media), out
        finally:
            if group:
                self.job_group(None)
        return span["end"] - span["start"], rep, out

    def resume(self, out: str, tracer) -> tuple[float, int]:
        """Re-run ``run_resumable`` on a finished output dir: it must find
        every bucket complete. → (wall seconds, buckets run)."""
        from ppocr_spark.checkpoint import run_resumable

        with tracer.span("resume", "resume") as span:
            stats = run_resumable(self.spark, self.docs, self.media, out,
                                  self.cfg)
        return span["end"] - span["start"], int(stats["buckets_run"])


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files, size = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run(args, build: str, work: str) -> dict:
    cpu0 = tracing.cpu_times()
    bench = Bench(args, build, work)
    tracer = tracing.Tracer()
    info: dict = {"workload": args.workload, "seed": args.seed,
                  "properties": bench.wl.properties}
    try:
        t0 = time.perf_counter()
        bench.set_up(tracer)
        # set-up ends with the first (cold) pass; a further untimed pass
        # left the spread between runs unchanged and costs more of the run
        # budget than it has (perfbench/README.md, "Sizing")
        info["cold_pass_s"], _rep, out = bench.one_pass("cold", tracer)
        shutil.rmtree(out, ignore_errors=True)
        setup_s = time.perf_counter() - t0

        walls, reports, failed, out = [], [], 0, None
        t_timed = time.perf_counter()
        while (time.perf_counter() - t_timed < args.seconds
               or len(reports) < MIN_PASSES):
            if out:
                shutil.rmtree(out, ignore_errors=True)
            wall, rep, out = bench.one_pass(f"timed{len(reports)}", tracer)
            reports.append(rep)
            # a pass fails when it raised, when a difference falls outside
            # the known classes, or when it differs from the first pass
            failed += not (wall is not None and rep.acceptable
                           and rep.signature() == reports[0].signature())
            if wall is not None:
                walls.append(wall)
        if bench.shape.resumable and walls:
            _s, info["resume_buckets_run"] = bench.resume(out, tracer)
            failed += info["resume_buckets_run"] != 0
        shutil.rmtree(out, ignore_errors=True)

        info["timed_walls_s"] = walls
        info["rss_mb_by_process"] = rss = tracing.peak_rss_by_process()
        wall_med = statistics.median(walls) if walls else float("inf")
        worst = max(reports, key=lambda r: r.error_frac)
        info["error_classes"] = {
            c: worst.count(c) for c in ("unicode_space", "recognition", "other")}
        info["missing"], info["extra"] = worst.missing, worst.extra
        if args.trace:
            metrics = traced(bench, tracer, wall_med, info)
            metrics["jvm.peak_rss_mb"] = tracing.peak_rss_by_process().get("java", 0.0)
        else:
            metrics = {
                "docs_per_s": bench.n_docs / wall_med,
                "media_spans_per_s": bench.n_media / wall_med,
                "span_exact_frac": 1.0 - worst.error_frac,
                "setup_s": setup_s,
                # the driver JVM's peak is left out: G1 heap growth moves it
                # by 40% between runs of the same input (it is in the info
                # line and the per-layer jvm.peak_rss_mb)
                "python_peak_rss_mb": sum(
                    v for k, v in rss.items() if k.startswith("python")),
            }
    finally:
        bench.tear_down()

    info["passes"] = [
        {k: sp.get(k) for k in ("run", "start", "end", "cpu_busy_s", "steal_s")}
        for sp in tracer.spans if sp["name"] == "pass"]
    info["host"] = tracing.host_context(cpu0)
    if args.trace:
        path = os.path.join(build, "traces",
                            f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        tracer.write(path, info=info, layers=metrics, rest=bench.snapshots)
        info["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"info": info}))
    return {
        "correct": failed == 0,
        "attempted": len(reports),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit}
                    for k, unit in metric_units(args.trace).items()},
    }


def traced(bench: Bench, tracer, wall_med: float, info: dict) -> dict:
    """The per-layer metrics: TRACED_PASSES passes, each tagged with a job
    group and read back from the REST stage table (medians over the
    passes), a ``run_resumable`` call split into its checkpoint phases (on
    resumable workloads, the traced passes themselves), a resume call, and
    the solo kernel replay."""
    import replay
    import spark_rest
    from ppocr_spark.checkpoint import run_resumable

    sc = bench.spark.sparkContext
    rest = spark_rest.Rest(sc.uiWebUrl, sc.applicationId)
    walls, per_pass, out = [], [], None
    for i in range(TRACED_PASSES):
        if out:
            shutil.rmtree(out, ignore_errors=True)
        group = f"perfbench-pass{i}"
        wall, rep, out = bench.one_pass(f"traced{i}", tracer, group)
        if wall is None:
            raise RuntimeError("a traced pass failed")
        walls.append(wall)
        bench.snapshots[group] = snap = rest.snapshot(group)
        per_pass.append(spark_rest.pipeline_metrics(snap, bench.cores))
        if bench.shape.resumable:
            per_pass[-1].update(spark_rest.checkpoint_phases(snap))
    layers = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    # the only difference from a timed pass is the job-group tag: the
    # share of throughput lost, over the median walls of both
    layers["trace.overhead_frac"] = 1.0 - wall_med / statistics.median(walls)
    info["trace_overhead_samples"] = {"untraced": len(info["timed_walls_s"]),
                                      "traced": len(walls)}
    layers["span_error_frac"] = rep.error_frac

    if not bench.shape.resumable:
        # the checkpoint layer over this workload's documents
        bench.job_group("perfbench-checkpoint")
        try:
            with tracer.span("checkpoint", "traced"):
                run_resumable(bench.spark, bench.docs, bench.media, out,
                              bench.cfg)
        finally:
            bench.job_group(None)
        bench.snapshots["checkpoint"] = snap = rest.snapshot(
            "perfbench-checkpoint")
        layers.update(spark_rest.checkpoint_phases(snap))
    files, size = _dir_stats(os.path.join(out, "results"))
    layers["checkpoint.files"] = files
    layers["checkpoint.output_mb"] = size / 1e6
    layers["checkpoint.resume_s"], layers["checkpoint.resume_buckets_run"] = (
        bench.resume(out, tracer))
    shutil.rmtree(out, ignore_errors=True)

    # solo kernel replay of a seeded sample of the media requests
    requests = replay.sample(bench.wl.media_spans, REPLAY_SPANS,
                             bench.args.seed)
    expected = {(d, s[3]): (s[1], s[4]) for d, spans in bench.wl.expected.items()
                for s in spans if s[0] == "media"}
    with tracer.span("replay", "replay"):
        layers.update(replay.replay(requests, bench.wl.media, expected,
                                    bench.cfg, tracer))
    spark_wrong = {(m[0], m[1]) for m in rep.mismatches}
    layers["kernel.spark_error_frac"] = (
        sum((d, o) in spark_wrong for d, o, _r in requests) / max(1, len(requests)))
    # executor time the solo kernel does not explain: an estimate that
    # includes contention between the workers
    layers["ocr_stage.nonkernel_s_est"] = (
        layers["ocr_stage.executor_run_s"]
        - layers["kernel.ms_per_span"] / 1e3 * bench.n_media)
    return layers


if __name__ == "__main__":
    sys.exit(main())
