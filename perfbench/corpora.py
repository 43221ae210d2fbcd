"""Seeded benchmark inputs and the references their outputs are checked against.

Every corpus is a pure function of ``(seed, size)``. It is written to
parquet once and the program under test reads only that file.
"""

from __future__ import annotations

import base64
import hashlib
import multiprocessing
import os
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TRANSCRIPT_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# the 30-word vocabulary and 5-language mix of the suite's documents table
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
DOC_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` as one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def cut_to_turns(table: pa.Table, turns: int) -> pa.Table:
    """Keep whole conversations, in conv_id order, skipping any that would
    overflow, until ``turns`` is reached to within 2 (every conversation
    has at least 3 turns)."""
    counts = table.group_by("conv_id").aggregate([("turn_idx", "count")]).sort_by("conv_id")
    keep, total = [], 0
    for conv, n in zip(counts["conv_id"].to_pylist(), counts["turn_idx_count"].to_pylist()):
        if total + n <= turns:
            keep.append(conv)
            total += n
        if total > turns - 3:
            break
    return table.filter(pc.is_in(table["conv_id"], pa.array(keep)))


def warmup_table(seed: int) -> pa.Table:
    """One turn of every payload type, for the warm-up job of each set-up."""
    from pdf_parser_spark.payload import PAYLOAD_TYPES, make_payload

    n = len(PAYLOAD_TYPES)
    return pa.table(
        {
            "conv_id": ["conv_warm"] * n,
            "turn_idx": pa.array(range(n), pa.int32()),
            "role": ["user"] * n,
            "text": [make_payload(t, seed) for t in PAYLOAD_TYPES],
            "tool": [""] * n,
            "ts": pa.array([1_700_000_000_000_000] * n, pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_ARROW_SCHEMA,
    )


def synth_blobs(n_turns: int, seed: int, blob_chars: int = 2048, giant_share: float = 0.2) -> pa.Table:
    """Opaque-only transcripts: every payload is ``%BIN`` plus ``blob_chars``
    random base64 characters. ``conv_000000`` holds ``giant_share`` of the
    turns; the rest fall into conversations of 5 to 40 turns. Rows are
    shuffled so the program has to restore turn order itself."""
    rng = np.random.default_rng(seed)
    giant = int(n_turns * giant_share)
    lengths = [giant]
    left = n_turns - giant
    while left > 0:
        n = min(left, int(rng.integers(5, 41)))
        lengths.append(n)
        left -= n
    conv = np.repeat(np.arange(len(lengths)), lengths)
    turn = np.concatenate([np.arange(n) for n in lengths]).astype(np.int32)
    raw = rng.bytes(n_turns * blob_chars * 3 // 4)
    b64 = base64.b64encode(raw).decode("ascii")
    texts = ["%BIN " + b64[i * blob_chars:(i + 1) * blob_chars] for i in range(n_turns)]
    order = rng.permutation(n_turns)
    roles = np.array(["user", "assistant", "tool"])
    return pa.table(
        {
            "conv_id": pa.array([f"conv_{c:06d}" for c in conv[order]]),
            "turn_idx": pa.array(turn[order]),
            "role": pa.array(roles[turn[order] % 3]),
            "text": pa.array([texts[i] for i in order]),
            "tool": pa.array([""] * n_turns),
            "ts": pa.array(
                (1_700_000_000 + conv[order] * 86_400 + turn[order] * 60) * 1_000_000,
                pa.timestamp("us", tz="UTC"),
            ),
        },
        schema=TRANSCRIPT_ARROW_SCHEMA,
    )


def synth_documents(n_docs: int, seed: int) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)`` in the shape of the
    operator suite's table: 8 to 100 words from a 30-word vocabulary, and
    one document in 20 a copy of an earlier one with `` dup`` appended, so
    the near-dup operators have true pairs to find."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(DOC_VOCAB), int(rng.integers(8, 101)))
            texts.append(" ".join(DOC_VOCAB[w] for w in words))
    langs = [DOC_LANGS[int(x)] for x in rng.integers(0, len(DOC_LANGS), n_docs)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def synth_embeddings(n_vecs: int, seed: int, dim: int = 64) -> pa.Table:
    """``embeddings(vec_id, embedding float[dim], label)``: unit-norm
    isotropic vectors with one of 10 labels."""
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )


def text_digest(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _reference_chunk(rows: list[tuple[str, int, str, str]]) -> list[tuple]:
    from pdf_parser_spark.kernels.extract import extract_turn
    from pdf_parser_spark.payload import classify_payload

    out = []
    for conv_id, turn_idx, text, tool in rows:
        res = extract_turn(text, int(turn_idx), tool)
        spans = tuple((s["block_id"], s["start"], s["end"]) for s in res["spans"])
        out.append(
            (
                conv_id,
                int(turn_idx),
                text_digest(res["extracted_text"]),
                spans,
                len(res["blocks"]),
                len(res["extracted_text"]),
                bool(res["is_fallback"]),
                classify_payload(text, tool),
            )
        )
    return out


class Reference:
    """Expected per-turn output of the extraction kernel, computed by calling
    ``kernels.extract.extract_turn`` directly on every row (in a pool of
    ``workers`` processes when ``workers > 1``), outside any timed region.

    ``turns`` maps ``(conv_id, turn_idx)`` to
    ``(turn_seq, md5(extracted_text), spans)``; ``turn_seq`` is the 1-based
    rank of ``turn_idx`` within its conversation."""

    def __init__(self, table: pa.Table, workers: int):
        cols = table.select(["conv_id", "turn_idx", "text", "tool"]).to_pydict()
        rows = list(zip(cols["conv_id"], cols["turn_idx"], cols["text"], cols["tool"]))
        if workers == 1:
            results = _reference_chunk(rows)
        else:
            size = max(1, -(-len(rows) // (workers * 4)))
            chunks = [rows[i:i + size] for i in range(0, len(rows), size)]
            with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("spawn")) as pool:
                results = [r for part in pool.map(_reference_chunk, chunks) for r in part]
        by_conv: dict[str, list[int]] = {}
        for r in results:
            by_conv.setdefault(r[0], []).append(r[1])
        seq = {
            (c, t): i + 1 for c, ts in by_conv.items() for i, t in enumerate(sorted(ts))
        }
        self.turns = {(r[0], r[1]): (seq[(r[0], r[1])], r[2], r[3]) for r in results}
        self.payload_types = Counter(r[7] for r in results)
        self.aggregates = {
            "turns_parsed": len(results),
            "conversations": len(by_conv),
            "blocks_emitted": sum(r[4] for r in results),
            "spans_emitted": sum(len(r[3]) for r in results),
            "chars_extracted": sum(r[5] for r in results),
            "fallback_turns": sum(1 for r in results if r[6]),
        }

    def metrics_mismatch(self, row: dict[str, Any]) -> bool:
        """True when a ``run_metrics`` row disagrees with the reference."""
        a = self.aggregates
        want_rate = a["fallback_turns"] / a["turns_parsed"] if a["turns_parsed"] else 0.0
        return (
            any(int(row[k]) != a[k] for k in
                ("turns_parsed", "conversations", "blocks_emitted", "spans_emitted", "chars_extracted"))
            or abs(float(row["ocr_fallback_rate"]) - want_rate) > 1e-12
        )

    def mismatched_turns(self, rows: list[tuple]) -> int:
        """Count output rows ``(conv_id, turn_idx, turn_seq, md5, spans)`` that
        differ from the reference, plus reference turns missing from the
        output. Duplicated output rows count as mismatches."""
        seen: set[tuple[str, int]] = set()
        bad = 0
        for conv_id, turn_idx, turn_seq, digest, spans in rows:
            key = (conv_id, int(turn_idx))
            got = (int(turn_seq), digest, tuple((s[0], int(s[1]), int(s[2])) for s in spans))
            if key in seen or self.turns.get(key) != got:
                bad += 1
            seen.add(key)
        return bad + len(self.turns.keys() - seen)
