"""Per-layer metrics of the traced run, all read from outside the program.

Three sources, none of which needs a change to the engine:

* the SQL status store of the run's executions (``sqlmetrics``): the
  ``MapInPandas`` node of ``operators.fused``, the table writes of
  ``pipeline.lineage`` and engine-wide stage totals;
* noop-sink walls of successively longer prefixes of the pipeline
  ("rungs"), each built by calling the engine's public functions;
* in-process timing of each ``kernel.*`` public function on a seeded
  sample of the workload's turns, in the order the fused hop calls them.
"""

from __future__ import annotations

import dataclasses
import re
import statistics
import time

from ragstudio_spark.kernel import bpe, chunk as kchunk
from ragstudio_spark.kernel import html_extract, langid, textops
from ragstudio_spark.operators import fused, sniff
from ragstudio_spark.pipeline.job import PipelineConfig, run_pipeline

from perfbench import checks
from perfbench.sqlmetrics import Execution, stage_totals

MB = 1 << 20
_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
_PATH_RE = re.compile(r"file:([^,\s\]]+)")
LINEAGE_TABLES = ("metrics", "chunks", "quarantine", "tool_calls", "lineage")


def _noop(build) -> float:
    """Wall of building a frame and writing it to the noop sink: a user's
    call pays for building the plan too."""
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def ladder(df, cfg: PipelineConfig, reps: int = 2) -> dict:
    """Median noop-sink wall of three prefixes of ``run_pipeline``:
    scan+sniff, +fused hop (the wire form ``run_pipeline`` consumes), and
    the whole chunks frame (+gate, status, explode, slice), each with the
    building of its plan."""
    def scan_sniff():
        return sniff.with_content_type(df)

    def fused_hop():
        return fused.process_turns(
            scan_sniff().select("conv_id", "turn_idx", "text", "content_type"),
            strategy=cfg.strategy, max_tokens=cfg.max_tokens, overlap=cfg.overlap,
            do_preprocess=cfg.preprocess, with_normalize=cfg.with_normalize,
            apply_repair=cfg.apply_repair, on_error=cfg.on_error,
            adaptive=cfg.adaptive, with_trace=cfg.with_trace,
            materialize_text=False, bpe_merges_path=cfg.bpe_merges_path,
            python_engine=cfg.python_engine)

    def chunks():
        return run_pipeline(df, dataclasses.replace(cfg, dedupe_chunks=False)).chunks

    out = {}
    for name, build in (("scan_sniff_s", scan_sniff), ("fused_s", fused_hop),
                        ("chunks_s", chunks)):
        out[f"ladder.{name}"] = statistics.median(_noop(build) for _ in range(reps))
    out["job.gate_explode_s"] = out["ladder.chunks_s"] - out["ladder.fused_s"]
    return out


def kernel_profile(texts_keys: list[tuple], passes: int = 3) -> dict:
    """µs per turn of each kernel function over the sampled turns, median
    of ``passes`` passes, called as the fused hop calls them for the
    default config (recursive, 400/50 tokens, preprocess, normalize)."""
    tok = bpe.resolve_tokenizer("auto")
    names = ("html_extract.extract_main_content", "textops.preprocess_before_chunking",
             "textops.clean_text", "textops.detect_ocr_quality",
             "langid.detect_language", "textops.preprocess", "chunk.split_text",
             "chunk.chunk_turn")
    per_pass = []
    n_chunks = 0
    n_bytes = 0
    for p in range(passes):
        t = dict.fromkeys(names, 0.0)
        pc = time.perf_counter
        for conv_id, turn_idx, text in texts_keys:
            raw = text or ""
            ctype = checks.content_type(raw)
            t0 = pc()
            if ctype == "html":
                extracted = html_extract.extract_main_content(raw)
                t["html_extract.extract_main_content"] += pc() - t0
            elif ctype == "pdf":
                extracted = textops.preprocess_before_chunking(raw, "pdf")
                t["textops.preprocess_before_chunking"] += pc() - t0
            else:
                extracted = "" if ctype == "empty" else raw
            t0 = pc()
            cleaned = textops.clean_text(extracted)
            t1 = pc()
            t["textops.clean_text"] += t1 - t0
            if cleaned:
                textops.detect_ocr_quality(cleaned)
                t2 = pc()
                langid.detect_language(cleaned)
                t3 = pc()
                t["textops.detect_ocr_quality"] += t2 - t1
                t["langid.detect_language"] += t3 - t2
            t0 = pc()
            chunks, _, _ = kchunk.chunk_turn(
                extracted, source=f"{conv_id}:{turn_idx}",
                requested_strategy="recursive", max_tokens=400, overlap=50,
                with_base=True, tokenizer=tok)
            t1 = pc()
            t["chunk.chunk_turn"] += t1 - t0
            if extracted:
                pre, _ = textops.preprocess(extracted)
                t2 = pc()
                kchunk.split_text(pre, "recursive", 400, 50, tokenizer=tok)
                t3 = pc()
                t["textops.preprocess"] += t2 - t1
                t["chunk.split_text"] += t3 - t2
            if p == 0:
                n_chunks += len(chunks)
                n_bytes += len(raw.encode("utf-8"))
        per_pass.append(t)
    n = len(texts_keys)
    us = {k: statistics.median(pp[k] for pp in per_pass) * 1e6 / n for k in names}
    out = {f"kernel.{k}.us_per_turn": v for k, v in us.items() if k != "chunk.chunk_turn"}
    out["kernel.chunk.chunk_turn.self_us_per_turn"] = (
        us["chunk.chunk_turn"] - us["textops.preprocess"] - us["chunk.split_text"])
    out["kernel.total_us_per_turn"] = (
        us["html_extract.extract_main_content"] + us["textops.preprocess_before_chunking"]
        + us["textops.clean_text"] + us["textops.detect_ocr_quality"]
        + us["langid.detect_language"] + us["chunk.chunk_turn"])
    out["kernel.chunks_per_turn"] = n_chunks / n
    out["kernel.kb_per_turn"] = n_bytes / 1024 / n
    return out


# One line per Python task, written by the Python runner at INFO and
# routed to its own file by the log4j2 configuration of the traced run
# (``TIMES_LOG4J2``): "task 3.0 in stage 7.0 (TID 31)|<logger>|Times:
# total = 1499, boot = 955, init = 328, finish = 216" (ms).
_TIMES_RE = re.compile(
    r"in stage (\d+)\.\d+ \(TID (\d+)\)\|[^|]*MapInBatch[^|]*\|Times: total = (-?\d+), "
    r"boot = (-?\d+), init = (-?\d+), finish = (-?\d+)")

TIMES_LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.console.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{yy/MM/dd HH:mm:ss}} %p %c{{1}}: %m%n%ex
appender.times.type = File
appender.times.name = times
appender.times.fileName = {path}
appender.times.layout.type = PatternLayout
appender.times.layout.pattern = %X{{task_name}}|%c|%m%n
logger.times.name = org.apache.spark.sql.execution.python
logger.times.level = info
logger.times.additivity = false
logger.times.appenderRef.times.ref = times
"""


def python_task_times(path: str) -> list[dict]:
    """Per-task times (s) of the ``MapInPandas`` Python runner, from its log.

    The worker stamps ``boot`` when its ``main()`` starts, ``init`` once
    the function is deserialized and ``finish`` at the end; the JVM
    reports boot = boot − task start, init = init − boot. A reused worker
    re-enters ``main()`` as soon as its previous task ends and waits
    there for the next one, so its boot is negative and its init holds
    that idle wait. Within the task: ``boot`` = max(boot, 0) (a freshly
    forked worker), ``init`` = init + min(boot, 0) (shipping and
    deserializing the function), ``run`` = finish (batches in, the
    function, batches out); the three add up to ``total``.
    """
    out = []
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = _TIMES_RE.search(line)
            if not m:
                continue
            stage, tid, total, boot, init, finish = (int(g) for g in m.groups())
            out.append({"stage": stage, "tid": tid, "total": total / 1e3,
                        "boot": max(boot, 0) / 1e3, "init": (init + min(boot, 0)) / 1e3,
                        "run": finish / 1e3})
    return out


def fused_metrics(spark, execs: list[Execution], turns_in: int,
                  kernel_us_per_turn: float, times_log: str) -> tuple[dict, list[str]]:
    """The fused hop's boundary costs, summed over every ``MapInPandas``
    node of the run (one per pass over the input), and the checks that
    its per-task Python times fit in the tasks: their sum must equal the
    node's "time to run Python workers" and stay within the stages'
    executor run time."""
    nodes = [n for e in execs for n in e.find("MapInPandas")]
    stages = sorted({s for e in execs if e.find("MapInPandas") for s in e.stages})
    tasks = [t for t in python_task_times(times_log) if t["stage"] in stages]
    rows = sum(n.total("number of output rows") for n in nodes)
    sql_total = sum(n.total("time to run Python workers") for n in nodes)
    log_total = sum(t["total"] for t in tasks)
    run_s = sum(t["run"] for t in tasks)
    skews = []
    for n in nodes:
        m = n.metrics.get("time to run Python workers")
        if m and m["med"]:
            skews.append(m["max"] / m["med"])
    errors = []
    # the status store prints times of a second or more to 0.1 s
    if abs(log_total - sql_total) > 0.06 * len(nodes) + 0.002 * len(tasks) + 0.02 * sql_total:
        errors.append(f"fused: Python task times sum to {log_total:.3f} s, the "
                      f"MapInPandas nodes report {sql_total:.3f} s")
    task_s = stage_totals(spark, stages)["executor_run_s"]
    if log_total > task_s + 0.001 * len(tasks):
        errors.append(f"fused: Python boot + init + run {log_total:.3f} s exceed the "
                      f"stages' task time {task_s:.3f} s")
    passes = rows / turns_in if turns_in else 0.0
    per_pass_run = run_s / passes if passes else 0.0
    return {
        "fused.passes": passes,
        "fused.python_boot_s": sum(t["boot"] for t in tasks),
        "fused.python_init_s": sum(t["init"] for t in tasks),
        "fused.python_run_s": run_s,
        "fused.mb_to_python": sum(n.total("data sent to Python workers")
                                  for n in nodes) / MB,
        "fused.mb_from_python": sum(n.total("data returned from Python workers")
                                    for n in nodes) / MB,
        "fused.tasks": len(tasks),
        "fused.task_skew": max(skews, default=0.0),
        "fused.kernel_share": (kernel_us_per_turn * turns_in / 1e6 / per_pass_run
                               if per_pass_run else 0.0),
    }, errors


def _written_table(e: Execution) -> str | None:
    """Last path component of the directory an execution wrote, if any."""
    for n in e.find(_WRITE):
        m = _PATH_RE.search(n.desc)
        if m:
            return m.group(1).rstrip("/").rsplit("/", 1)[-1]
    return None


def lineage_metrics(execs: list[Execution], input_path: str,
                    run_dir: str | None) -> dict:
    """Per-table write walls and scan counts of one ``run_with_lineage``
    (``run_dir`` None: a call that writes no run directory). ``summary_s``
    counts the executions that write nothing but read the run's own
    tables back (the lineage summary)."""
    out = {f"lineage.write_{t}_s": 0.0 for t in LINEAGE_TABLES}
    out["lineage.summary_s"] = 0.0
    files = 0.0
    input_scans = 0
    committed_read = 0.0
    broadcast = 0
    for e in execs:
        table = _written_table(e)
        if table in LINEAGE_TABLES:
            out[f"lineage.write_{table}_s"] += e.duration_s
            files += sum(n.total("number of written files") for n in e.find(_WRITE))
        elif run_dir and table is None and any(
                n.name.startswith("Scan parquet") and run_dir in n.desc for n in e.nodes):
            out["lineage.summary_s"] += e.duration_s
        for n in e.nodes:
            if n.name.startswith("Scan parquet"):
                if input_path in n.desc:
                    input_scans += 1
                elif "/runs/" in n.desc and not (run_dir and run_dir in n.desc):
                    committed_read += n.total("number of output rows")
            if n.name.startswith("BroadcastHashJoin") and "LeftAnti" in n.desc:
                broadcast = 1
    out.update({
        "lineage.executions": len(execs),
        "lineage.jobs": sum(e.jobs for e in execs),
        "lineage.input_scans": input_scans,
        "lineage.files_written": files,
        "lineage.committed_keys_read": committed_read,
        "lineage.resume_broadcast": broadcast,
    })
    return out


def engine_metrics(spark, execs: list[Execution]) -> dict:
    stages = sorted({s for e in execs for s in e.stages})
    tot = stage_totals(spark, stages)
    return {
        "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / MB,
        "spark.spill_mb": tot["spill_bytes"] / MB,
        "spark.peak_exec_memory_mb": tot["peak_exec_memory_bytes"] / MB,
        "spark.stages": len(stages),
        "spark.failed_tasks": tot["failed_tasks"],
    }


def dedupe_trace(df) -> dict:
    """The near-dedup branch of ``run_pipeline``, one call at a time, on
    the checkpointed chunk table it builds (same hashes and bands)."""
    from pyspark.sql import functions as F

    from ragstudio_spark.operators import dedupe

    chunks = run_pipeline(df, PipelineConfig(dedupe_chunks="exact")).chunks
    keyed = chunks.withColumn(
        "_k",
        F.concat_ws("|", F.col("conv_id"),
                    F.lpad(F.col("turn_idx").cast("string"), 8, "0"),
                    F.lpad(F.col("chunk_index").cast("string"), 6, "0")),
    ).localCheckpoint()
    n_keyed = keyed.count()
    t0 = time.perf_counter()
    pairs = dedupe.minhash_lsh_pairs(keyed, text_col="text", id_col="_k",
                                     n_hashes=16, n_bands=4).localCheckpoint()
    n_pairs = pairs.count()
    t1 = time.perf_counter()
    survivors = dedupe.keep_canonical(keyed, pairs, id_col="_k").count()
    t2 = time.perf_counter()
    removed = n_keyed - survivors
    return {
        "dedupe.lsh_pairs_s": t1 - t0,
        "dedupe.candidate_pairs": n_pairs,
        "dedupe.keep_canonical_s": t2 - t1,
        "dedupe.chunks_removed": removed,
        "dedupe.useful_ratio": removed / n_pairs if n_pairs else 0.0,
    }
