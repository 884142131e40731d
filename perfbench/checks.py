"""Output checks: order-independent digests and the in-process oracle.

A digest folds a 64-bit hash of each row into (row count, sum of the low
32 bits, sum of the high 32 bits): equal multisets of rows give equal
digests in any order or partitioning, and the sums cannot overflow below
2³¹ rows.
"""

from __future__ import annotations

import random
import re
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

from pyspark.sql import Column, DataFrame, Observation, functions as F

from ragstudio_spark.kernel import chunk as kchunk
from ragstudio_spark.kernel import html_extract, quality, textops
from ragstudio_spark.operators import sniff

CHUNK_COLS = ("conv_id", "turn_idx", "chunk_index", "chunk_id", "text",
              "char_start", "char_end")
CHUNK_KEY = ("conv_id", "turn_idx", "chunk_index")
STATUS_COLS = ("conv_id", "turn_idx", "status")

_MASK = 0xFFFFFFFF


def digest_aggs(cols, prefix: str) -> list[Column]:
    h = F.xxhash64(*[F.col(c) for c in cols])
    return [
        F.count(F.lit(1)).alias(f"{prefix}_n"),
        F.sum(h.bitwiseAND(F.lit(_MASK))).alias(f"{prefix}_lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias(f"{prefix}_hi"),
    ]


def _digest(row: dict, prefix: str) -> tuple:
    return tuple(int(row[f"{prefix}_{k}"] or 0) for k in ("n", "lo", "hi"))


def _chunk_aggs() -> list[Column]:
    return (digest_aggs(CHUNK_COLS, "rows") + digest_aggs(CHUNK_KEY, "keys")
            + [F.sum((F.col("chunk_index") == 0).cast("long")).alias("turns")])


def _chunk_summary(row: dict) -> dict:
    return {"rows": _digest(row, "rows"), "keys": _digest(row, "keys"),
            "turns": int(row["turns"] or 0)}


def observed_chunks(chunks: DataFrame) -> tuple[DataFrame, Observation]:
    """``chunks`` with the chunk-row digest, the chunk-key digest and the
    number of turns with chunks computed as the sink consumes it (one
    CollectMetrics node, no extra job); read them with
    :func:`observed_summary` after the action."""
    obs = Observation("chunk_digest")
    return chunks.observe(obs, *_chunk_aggs()), obs


def observed_summary(obs: Observation) -> dict:
    return _chunk_summary(obs.get)


def chunks_summary(chunks: DataFrame) -> dict:
    """The same summary as :func:`observed_summary`, from a written table."""
    return _chunk_summary(chunks.agg(*_chunk_aggs()).collect()[0].asDict())


def status_summary(metrics: DataFrame) -> dict:
    """Turn count per status plus a digest of (conv_id, turn_idx, status),
    in one job: the digest sums add up across the status groups."""
    groups = [r.asDict() for r in
              metrics.groupBy("status").agg(*digest_aggs(STATUS_COLS, "st")).collect()]
    digest = tuple(sum(v) for v in zip(*(_digest(g, "st") for g in groups))) or (0, 0, 0)
    return {"counts": {g["status"]: g["st_n"] for g in groups}, "digest": digest}


# --- per-turn oracle: the kernel called in-process --------------------------

_HTML = re.compile(sniff._HTML_RE)
_MD = re.compile(sniff._MD_RE)
_PDF = re.compile(sniff._PDF_RE)


def content_type(text: str) -> str:
    """The sniff of ``operators.sniff`` (same patterns, same priority)."""
    if text.strip(" ") == "":
        return "empty"
    if _HTML.search(text):
        return "html"
    if _MD.search(text):
        return "markdown"
    if _PDF.search(text):
        return "pdf"
    return "plain"


def expected_turn(conv_id: str, turn_idx: int, text: str | None) -> tuple[str, list]:
    """(status, chunk rows) the default pipeline must produce for one turn,
    computed with the kernel functions directly, without Spark."""
    text = text or ""
    ctype = content_type(text)
    if ctype == "empty":
        return "empty", []
    try:
        if ctype == "html":
            extracted = html_extract.extract_main_content(text)
        elif ctype == "pdf":
            extracted = textops.preprocess_before_chunking(text, "pdf")
        else:
            extracted = text
        chunks, _ = kchunk.chunk_turn(extracted, source=f"{conv_id}:{turn_idx}",
                                      requested_strategy="recursive",
                                      max_tokens=400, overlap=50)
    except Exception:  # noqa: BLE001 — the fused hop's row-level barrier
        return "failed_error", []
    verdict = quality.check_chunks_quality([c["text"] for c in chunks],
                                           min_readable_ratio=0.9)
    if not verdict["is_readable"]:
        return "failed_quality", []
    rows = [(conv_id, turn_idx, c["chunk_index"], c["chunk_id"], c["text"],
             c["char_start"], c["char_end"]) for c in chunks]
    return "success", rows


def _expected_rows(part: list[tuple]) -> list[tuple[str, list]]:
    return [expected_turn(c, t, x) for c, t, x in part]


def expected_table(pdf, workers: int = 1) -> dict:
    """Status counts, status rows ``STATUS_COLS``, chunk rows ``CHUNK_COLS``
    and turns with chunks of the whole table, from :func:`expected_turn`,
    over ``workers`` forked processes (a pure-Python loop; fork it only
    while no JVM gateway is up)."""
    turns_in = [(c, int(t), x) for c, t, x in
                zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"])]
    if workers > 1:
        step = -(-len(turns_in) // workers)
        parts = [turns_in[k:k + step] for k in range(0, len(turns_in), step)]
        with ProcessPoolExecutor(workers, mp_context=get_context("fork")) as pool:
            results = [r for part in pool.map(_expected_rows, parts) for r in part]
    else:
        results = _expected_rows(turns_in)
    counts: dict[str, int] = {}
    status_rows, chunk_rows = [], []
    for (c, t, _), (status, rows) in zip(turns_in, results):
        counts[status] = counts.get(status, 0) + 1
        status_rows.append((c, t, status))
        chunk_rows += rows
    return {"counts": counts, "rows": len(chunk_rows),
            "turns": sum(1 for _, rows in results if rows),
            "status_rows": status_rows, "chunk_rows": chunk_rows}


def expected_digests(spark, exp: dict, chunk_schema, status_schema=None) -> dict:
    """Digests of the expected chunk rows (``rows``, ``keys``, ``turns``,
    as :func:`chunks_summary`) and statuses (as :func:`status_summary`),
    hashed by Spark with the engine's own column types."""
    out = {"chunks": chunks_summary(spark.createDataFrame(exp["chunk_rows"], chunk_schema))}
    if status_schema is not None:
        out["status"] = status_summary(
            spark.createDataFrame(exp["status_rows"], status_schema))["digest"]
    return out


def sample_keys(pdf, seed: int, n: int) -> list[tuple[str, int]]:
    """A seeded sample of (conv_id, turn_idx) keys of the input table."""
    keys = list(zip(pdf["conv_id"], pdf["turn_idx"].astype(int)))
    return random.Random(f"sample:{seed}").sample(keys, min(n, len(keys)))


def differential(pdf, keys, statuses: dict, chunk_rows: list,
                 subset: bool = False) -> list[str]:
    """Compare the engine's statuses and chunk rows for ``keys`` against
    :func:`expected_turn`. ``subset=True`` (near dedup) accepts any subset
    of a turn's expected chunks, each of which must match exactly.
    Returns one message per mismatching turn."""
    by_key = {(r[0], int(r[1])): [] for r in chunk_rows}
    for r in chunk_rows:
        by_key[(r[0], int(r[1]))].append(tuple(r))
    texts = {(c, int(t)): x for c, t, x in
             zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"])}
    errors = []
    for key in keys:
        status, exp = expected_turn(key[0], key[1], texts[key])
        got = sorted(by_key.get(key, []), key=lambda r: r[2])
        if statuses.get(key) != status:
            errors.append(f"{key}: status {statuses.get(key)!r} != {status!r}")
        elif subset and not set(got) <= set(exp):
            errors.append(f"{key}: surviving chunks are not kernel chunks")
        elif not subset and got != exp:
            errors.append(f"{key}: {len(got)} chunks differ from the kernel's {len(exp)}")
    return errors
