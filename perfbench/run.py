#!/usr/bin/env python3
"""The repo benchmark: one command, two job-level workloads.

    python3 perfbench/run.py --workload job_chat --seed 1 --seconds 8 --trace 0

Runs the engine's public entry points (``pipeline.job.run_pipeline`` and
``pipeline.lineage.run_with_lineage``) on a seeded, generated transcript
table at ``local[nproc]`` from this one process, checks the outputs, and
prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
Everything it writes lives under ``.perfbench_work/`` in the repo root and
is removed on exit.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()

# Input turns per workload. A run_with_lineage call costs ~2.5 s of fixed
# per-job work on a 4-core box whatever the input size, so job_chat's
# table is small enough that a whole run (JVM start, set-ups, checks,
# repetitions) stays around a minute. chunks_docs is sized so that the
# Python kernel, not the per-job fixed cost, is the largest part of its
# job_s. job_near_dedup is not timed end to end (its ~30 Spark jobs per
# call spread too much run to run); the traced run of job_chat measures
# it, with the resume read side.
SIZES = {"chunks_docs": 1200, "job_chat": 1200, "job_near_dedup": 600}
WORKLOADS = ("chunks_docs", "job_chat")
# Set-ups per untraced run, each in a fresh JVM; the timed repetitions are
# split between them. One JVM's JIT state makes all its repetitions ~5-10 %
# faster or slower than another's, so a run samples more than one JVM.
SETUPS = 2
MIN_REPS = 2        # timed repetitions per JVM, at least
SAMPLE_TURNS = 40   # near-dedup turns checked one by one against the kernel
KERNEL_TURNS = 200  # turns timed in-process for the kernel.* metrics

END_TO_END = {"setup_s": "s", "job_s": "s", "turns_per_s": "1/s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "fused.passes": "ratio", "fused.python_boot_s": "s",
    "fused.python_init_s": "s", "fused.python_run_s": "s",
    "fused.mb_to_python": "MB", "fused.mb_from_python": "MB",
    "fused.tasks": "count", "fused.task_skew": "ratio",
    "fused.kernel_share": "ratio",
    **{f"kernel.{k}.us_per_turn": "us" for k in (
        "html_extract.extract_main_content", "textops.preprocess_before_chunking",
        "textops.clean_text", "textops.detect_ocr_quality",
        "langid.detect_language", "textops.preprocess", "chunk.split_text")},
    "kernel.chunk.chunk_turn.self_us_per_turn": "us",
    "kernel.total_us_per_turn": "us", "kernel.chunks_per_turn": "count",
    "kernel.kb_per_turn": "KiB",
    "ladder.scan_sniff_s": "s", "ladder.fused_s": "s", "ladder.chunks_s": "s",
    "job.gate_explode_s": "s", "lineage.overhead_s": "s",
    "lineage.executions": "count", "lineage.jobs": "count",
    "lineage.input_scans": "count",
    **{f"lineage.write_{t}_s": "s" for t in (
        "metrics", "chunks", "quarantine", "tool_calls", "lineage")},
    "lineage.summary_s": "s", "lineage.files_written": "count",
    "lineage.resume_job_s": "s", "lineage.committed_keys_read": "count",
    "lineage.resume_broadcast": "bool", "lineage.resume_skip_ratio": "ratio",
    "dedupe.job_s": "s", "dedupe.lsh_pairs_s": "s", "dedupe.candidate_pairs": "count",
    "dedupe.keep_canonical_s": "s", "dedupe.chunks_removed": "count",
    "dedupe.useful_ratio": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.peak_exec_memory_mb": "MB", "spark.stages": "count",
    "spark.failed_tasks": "count",
    "gate.success_share": "ratio", "gate.quarantine_share": "ratio",
    "gate.failed_turn_share": "ratio", "sink.output_mb": "MB",
    "trace.overhead_s": "s",
}
MB = 1 << 20


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Bench:
    """One workload in one process: input, set-ups, checks, timed runs."""

    def __init__(self, workload: str, seed: int, work: str, trace: bool = False):
        from pyspark import SparkContext

        from ragstudio_spark.pipeline.job import PipelineConfig

        from perfbench import checks, host, workloads

        self.seed = seed
        self.work = work
        self.cfg = {"chunks_docs": PipelineConfig(),
                    "job_chat": PipelineConfig(extract_tools=True),
                    "job_near_dedup": PipelineConfig(dedupe_chunks="near")}[workload]
        self.noop = workload == "chunks_docs"
        self.near = workload == "job_near_dedup"
        self.pdf = workloads.GENERATORS[workload](seed, SIZES[workload])
        self.n = len(self.pdf)
        self.input = os.path.join(work, "input")
        workloads.write_input(self.pdf, self.input, host.nproc())
        # the kernel's answer for every turn, before any JVM is up so the
        # work can be forked over the cores
        self.expected = checks.expected_table(
            self.pdf, workers=1 if SparkContext._gateway else host.nproc())
        self.rss = host.PeakRss()
        self.spark = None
        self.df = None
        self.chunk_schema = None   # of the noop sink's chunk columns
        self.ref = None            # summary of the first cold run
        self.errors: list[str] = []
        # per-task Python runner times, logged by the traced run's JVM
        self.times_log = os.path.join(work, "python_times.log") if trace else None

    # --- session and entry call ------------------------------------------

    def start_session(self) -> float:
        from ragstudio_spark.session import get_spark

        java_opts = (f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                     "-XX:-UsePerfData -Xmn256m")
        if self.times_log:
            from perfbench import layers

            conf = os.path.join(self.work, "log4j2.properties")
            with open(conf, "w") as f:
                f.write(layers.TIMES_LOG4J2.format(path=self.times_log))
            java_opts += f" -Dlog4j2.configurationFile=file:{conf}"
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # plan descriptions keep whole scan paths: layers.py matches them
            "spark.sql.maxMetadataStringLength": "4096",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        })
        self.df = self.spark.read.parquet(self.input)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def stop_session(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def run_once(self, tag: str, root: str | None = None) -> dict:
        """One timed entry call (noop chunks write, or run_with_lineage into
        ``root``, a fresh directory by default); then, untimed, the summary
        of what it wrote."""
        from ragstudio_spark.pipeline import lineage
        from ragstudio_spark.pipeline.job import run_pipeline

        from perfbench import checks

        if root is None and not self.noop:
            root = os.path.join(self.work, "out", tag)
        rep = {"tag": tag, "root": root, "run_id": f"run_{tag}", "raised": False}
        obs = None
        self.rss.start()
        t0 = time.perf_counter()
        try:
            if self.noop:
                chunks, obs = checks.observed_chunks(run_pipeline(self.df, self.cfg).chunks)
                chunks.write.format("noop").mode("overwrite").save()
                rep["turns"] = self.n
            else:
                s = lineage.run_with_lineage(self.spark, self.df, root, rep["run_id"],
                                             self.cfg)
                rep["turns"] = s["total_turns"]
        except Exception:  # noqa: BLE001 — a raising run counts as all-failed
            rep["raised"] = True
            rep["turns"] = 0
            log(f"{tag}: entry call raised\n{traceback.format_exc()}")
        finally:
            rep["wall"] = time.perf_counter() - t0
            rep["peak_rss"] = self.rss.stop()
        if rep["raised"]:
            return rep
        if self.noop:
            rep["chunks"] = checks.observed_summary(obs)
            rep["output_bytes"] = 0
            if self.chunk_schema is None:
                self.chunk_schema = chunks.select(*checks.CHUNK_COLS).schema
        else:
            rep["chunks"] = checks.chunks_summary(lineage.read_chunks(self.spark, root))
            rep["status"] = checks.status_summary(
                lineage.read_table(self.spark, root, "metrics"))
            rep["output_bytes"] = dir_bytes(os.path.join(root, "runs", rep["run_id"]))
        return rep

    def score(self, rep: dict) -> None:
        """Failed turns of one run: ``failed_error`` turns plus turns missing
        from the output. Every turn fails when the run raised, when its
        digests (chunk rows, chunk keys, turn statuses) differ from the
        first run's, or when its chunk rows (near dedup: their count) or
        turn statuses differ from the kernel's. On the noop sink a
        ``failed_error`` turn shows as a turn missing from the chunks."""
        exp = self.expected
        if rep["raised"]:
            rep["failed"] = self.n
            return
        errors = []
        if rep["chunks"] != self.ref["chunks"] or (
                not self.noop and rep["status"]["digest"] != self.ref["status"]["digest"]):
            errors.append("output digest differs from the first run")
        if self.near:
            if rep["chunks"]["rows"][0] > exp["rows"]:
                errors.append("near dedup returned more chunk rows than the kernel made")
        elif rep["chunks"] != exp["chunks"]:
            errors.append("chunk rows differ from the kernel's")
        if self.noop:
            failed = max(exp["turns"] - rep["chunks"]["turns"], 0)
        else:
            counts = rep["status"]["counts"]
            failed = counts.get("failed_error", 0) + max(self.n - sum(counts.values()), 0)
            if rep["status"]["digest"] != exp["status"]:
                errors.append(f"turn statuses {counts} differ from the kernel's "
                              f"{exp['counts']}")
        self.errors += [f"{rep['tag']}: {e}" for e in errors]
        rep["failed"] = self.n if errors else failed

    # --- phases ------------------------------------------------------------

    def setup(self, k: int) -> tuple[float, dict]:
        """JVM launch and session start plus the first (cold) entry call:
        what one spark-submit of the job pays before its work."""
        if k:
            self.stop_session()
        session_s = self.start_session()
        cold = self.run_once(f"cold{k}")
        log(f"setup {k}: session {session_s:.2f}s + cold run {cold['wall']:.2f}s")
        return session_s + cold["wall"], cold

    def check(self, cold: dict) -> None:
        """Checks made once per run, outside every timer: digests of the
        kernel's chunk rows and statuses for the whole input, hashed with
        the engine's column types, and on near dedup the per-turn
        differential of a seeded sample against the kernel. The first cold
        run becomes the reference."""
        from ragstudio_spark.pipeline import lineage

        from perfbench import checks

        if cold["raised"]:
            raise RuntimeError("the first cold run raised; nothing to measure")
        if self.noop:
            chunk_schema, status_schema = self.chunk_schema, None
        else:
            chunks = lineage.read_chunks(self.spark, cold["root"])
            metrics = lineage.read_table(self.spark, cold["root"], "metrics")
            chunk_schema = chunks.select(*checks.CHUNK_COLS).schema
            status_schema = metrics.select(*checks.STATUS_COLS).schema
        self.expected.update(checks.expected_digests(self.spark, self.expected,
                                                     chunk_schema, status_schema))
        del self.expected["chunk_rows"], self.expected["status_rows"]
        if self.near:
            keys = checks.sample_keys(self.pdf, self.seed, SAMPLE_TURNS)
            kdf = self.spark.createDataFrame(keys, "conv_id string, turn_idx int")
            statuses = {(r[0], r[1]): r[2] for r in metrics.join(
                kdf, ["conv_id", "turn_idx"], "left_semi").select(*checks.STATUS_COLS).collect()}
            rows = [tuple(r) for r in chunks.join(kdf, ["conv_id", "turn_idx"], "left_semi")
                    .select(*checks.CHUNK_COLS).collect()]
            self.errors += checks.differential(self.pdf, keys, statuses, rows, subset=True)
        self.ref = cold
        self.score(cold)

    def timed(self, seconds: float, min_reps: int = MIN_REPS) -> list[dict]:
        reps = []
        t_end = time.perf_counter() + seconds
        while len(reps) < min_reps or time.perf_counter() < t_end:
            reps.append(self.run_once(f"rep{len(reps)}"))
            self.score(reps[-1])
            log(f"{reps[-1]['tag']}: {reps[-1]['wall']:.3f}s rss {reps[-1]['peak_rss'] / MB:.0f}MB")
            if reps[-1]["root"]:
                shutil.rmtree(reps[-1]["root"], ignore_errors=True)
        return reps


def end_to_end(setups: list[float], reps: list[dict]) -> dict:
    return {
        "setup_s": statistics.median(setups),
        "job_s": statistics.median(r["wall"] for r in reps),
        "turns_per_s": statistics.median(r["turns"] / r["wall"] for r in reps),
        "peak_rss_mb": statistics.median(r["peak_rss"] for r in reps) / MB,
    }


def resume_trace(bench: Bench) -> dict:
    """The resume read side of ``pipeline.lineage`` on the workload's own
    input: committed runs over the first three quarters (three runs, made
    by the program), then one resumed run over the whole input. The union
    of the committed runs must equal the fresh single run (exactly-once).
    Each committed run reads its own quarter of the rows, by position,
    from parquet files of its own."""
    from ragstudio_spark.pipeline import lineage

    from perfbench import host, layers, sqlmetrics, workloads

    root = os.path.join(bench.work, "out", "resume")
    q = bench.n // 4
    committed = 0
    for k in range(3):
        path = os.path.join(bench.work, "resume_input", f"q{k}")
        workloads.write_input(bench.pdf.iloc[k * q:(k + 1) * q], path, host.nproc())
        committed += lineage.run_with_lineage(bench.spark, bench.spark.read.parquet(path),
                                              root, f"r{k}", bench.cfg)["total_turns"]
    if committed != 3 * q:
        bench.errors.append(f"resume: the committed runs hold {committed} turns, "
                            f"not the {3 * q} they were given")
    wm = sqlmetrics.last_execution_id(bench.spark)
    rep = bench.run_once("resume", root=root)
    execs = [e for e in sqlmetrics.executions_since(bench.spark, wm)
             if "checks.py" not in e.description]
    if rep["raised"] or rep["chunks"] != bench.ref["chunks"] \
            or rep["status"]["digest"] != bench.ref["status"]["digest"]:
        bench.errors.append("resume: committed runs differ from one fresh run")
    elif rep["turns"] != bench.n - committed:
        bench.errors.append(f"resume: the resumed run processed {rep['turns']} turns, "
                            f"not the {bench.n - committed} left")
    lin = layers.lineage_metrics(execs, bench.input,
                                 os.path.join(root, "runs", rep["run_id"]))
    shutil.rmtree(root, ignore_errors=True)
    return {
        "lineage.resume_job_s": rep["wall"],
        "lineage.committed_keys_read": lin["lineage.committed_keys_read"],
        "lineage.resume_broadcast": lin["lineage.resume_broadcast"],
        "lineage.resume_skip_ratio": (bench.n - rep["turns"]) / committed if committed else 0.0,
    }


def near_dedup_trace(bench: Bench) -> dict:
    """``run_with_lineage`` with ``dedupe_chunks="near"`` on the
    job_near_dedup table (same seed, same session): a cold call, the
    differential and kernel-count checks, one warm call whose output
    (surviving chunk keys included) must equal the cold call's, and the
    near-dedup branch traced one call at a time."""
    from perfbench import layers

    near = Bench("job_near_dedup", bench.seed, os.path.join(bench.work, "near"))
    near.spark = bench.spark
    near.df = bench.spark.read.parquet(near.input)
    near.check(near.run_once("cold"))
    rep = near.run_once("warm")
    near.score(rep)
    bench.errors += [f"job_near_dedup: {e}" for e in near.errors]
    out = layers.dedupe_trace(near.df)
    out["dedupe.job_s"] = rep["wall"]
    return out


def traced(bench: Bench) -> tuple[dict, list[dict]]:
    """The per-layer metrics (see README.md for what each should move):
    after the set-up, 2 warm-up repetitions, the prefix rungs, 2 untraced
    and 2 traced repetitions, so the rungs and the repetitions they are
    compared with run on the same warm JVM."""
    from perfbench import checks, layers, sqlmetrics

    spark = bench.spark
    warm = bench.timed(0, min_reps=2)
    out = layers.ladder(bench.df, bench.cfg)
    untraced = bench.timed(0, min_reps=2)
    traced_reps = []
    for i in range(2):
        wm = sqlmetrics.last_execution_id(spark)
        rep = bench.run_once(f"traced{i}")
        bench.score(rep)
        t0 = time.perf_counter()
        rep["execs"] = sqlmetrics.executions_since(spark, wm)
        rep["traced_wall"] = rep["wall"] + time.perf_counter() - t0
        traced_reps.append(rep)
    last = traced_reps[-1]
    # executions of the entry call only, not the benchmark's read-back
    execs = [e for e in last["execs"] if "checks.py" not in e.description]

    keys = checks.sample_keys(bench.pdf, bench.seed + 1, KERNEL_TURNS)
    texts = {(c, int(t)): x for c, t, x in
             zip(bench.pdf["conv_id"], bench.pdf["turn_idx"], bench.pdf["text"])}
    out.update(layers.kernel_profile([(c, t, texts[(c, t)]) for c, t in keys]))
    fused, errors = layers.fused_metrics(spark, execs, bench.n,
                                         out["kernel.total_us_per_turn"], bench.times_log)
    out.update(fused)
    bench.errors += errors
    out.update(layers.engine_metrics(spark, execs))
    run_dir = os.path.join(last["root"], "runs", last["run_id"]) if last["root"] else None
    out.update(layers.lineage_metrics(execs, bench.input, run_dir))
    untraced_s = statistics.median(r["wall"] for r in untraced)
    traced_s = statistics.median(r["traced_wall"] for r in traced_reps)
    out["lineage.overhead_s"] = untraced_s - out["ladder.chunks_s"]
    out["trace.overhead_s"] = traced_s - untraced_s
    for r in traced_reps:
        if r["root"]:
            shutil.rmtree(r["root"], ignore_errors=True)

    # the resume and near-dedup layers are measured on job_chat's trace
    out.update(dict.fromkeys((
        "lineage.resume_job_s", "lineage.committed_keys_read",
        "lineage.resume_broadcast", "lineage.resume_skip_ratio",
        "dedupe.job_s", "dedupe.lsh_pairs_s", "dedupe.candidate_pairs",
        "dedupe.keep_canonical_s", "dedupe.chunks_removed", "dedupe.useful_ratio"), 0.0))
    if not bench.noop:
        out.update(resume_trace(bench))
        out.update(near_dedup_trace(bench))

    if bench.noop:  # the noop sink shows only the turns that passed
        success = last["chunks"]["turns"]
        quarantined = bench.n - success
    else:
        counts = last["status"]["counts"]
        success = counts.get("success", 0)
        quarantined = counts.get("failed_quality", 0) + counts.get("empty", 0)
    out["gate.success_share"] = success / bench.n
    out["gate.quarantine_share"] = quarantined / bench.n
    all_reps = warm + untraced + traced_reps
    out["gate.failed_turn_share"] = (sum(r.get("failed", 0) for r in all_reps)
                                     / (bench.n * len(all_reps)))
    out["sink.output_mb"] = statistics.median(
        r.get("output_bytes", 0) for r in all_reps) / MB
    return out, all_reps


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import host

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        # Python workers import the engine from the repo root
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH"))
                                      if p),
        "SPARK_GRAFT_CPUS": str(host.nproc()),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # spark-submit's launcher JVM: no perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # one str-hash seed for every Python worker: per-process hash
        # randomization otherwise varies dict/set layouts run to run
        "PYTHONHASHSEED": "0",
    })
    bench = None
    try:
        before = host.snapshot()
        bench = Bench(args.workload, args.seed, work, trace=bool(args.trace))
        log(f"input ready at {time.perf_counter() - T0:.1f}s")
        if args.trace:
            bench.check(bench.setup(0)[1])
            metrics, reps = traced(bench)
            units = PER_LAYER
        else:
            setups, reps = [], []
            for k in range(SETUPS):
                s, cold = bench.setup(k)
                setups.append(s)
                if k == 0:
                    bench.check(cold)
                else:
                    bench.score(cold)
                if cold["root"]:
                    shutil.rmtree(cold["root"], ignore_errors=True)
                reps += bench.timed(args.seconds / SETUPS)
                log(f"JVM {k} done at {time.perf_counter() - T0:.1f}s")
            metrics = end_to_end(setups, reps)
            units = END_TO_END
    finally:
        if bench is not None:
            bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    log(f"stopped at {time.perf_counter() - T0:.1f}s")
    after = host.snapshot()

    attempted = bench.n * len(reps)
    # a failed output check fails every turn of the runs it covers
    failed = attempted if bench.errors else sum(r.get("failed", 0) for r in reps)
    print(f"workload={args.workload} seed={args.seed} turns={bench.n} "
          f"reps={len(reps)} trace={args.trace}")
    print(f"host before={json.dumps(before)} after={json.dumps(after)} "
          f"contention_flags={json.dumps(host.contention_flags(before, after))}")
    if not args.trace:
        print(f"failed_turn_share {failed / attempted:.6f} ratio")
        print(f"output_mb {statistics.median(r.get('output_bytes', 0) for r in reps) / MB:.4f} MB")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    for e in bench.errors:
        print(f"CHECK FAILED: {e}")
    print(json.dumps({
        "correct": not bench.errors and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
