"""Arrow-batched numpy kernels for the shingle-hash signature family.

Spark does NOT codegen higher-order-function lambdas: ``aggregate``/
``zip_with`` folds run interpreted, one boxed lambda call per array
element. For the signature operators that meant 60 (SimHash) or 16
(MinHash) interpreted lambda evaluations per shingle — profiled at
~36 s for 3.3 M shingles on local[32] (sf1.0), ~10x the cost of the
whole scan. These kernels do the identical arithmetic batch-wise in
numpy behind ``mapInPandas`` (optimization guide §4.2: hand whole Arrow
batches to vectorized native code instead of chaining JVM expressions).

Bit-parity contract (pinned by the DuckDB oracles and the
test_textkern_parity suite):

- tokens   = ``text.split(' ')``  (single-space split, identical to
  Spark ``split(text, ' ')`` and DuckDB ``string_split`` on this
  already-space-normalized corpus, including empty-string tokens)
- shingle  = ``' '.join(tok[i:i+k])`` (== ``concat_ws`` over non-null
  elements)
- hash60   = first 15 hex digits of md5 as a 60-bit BIGINT
  (``int(md5(g).hexdigest()[:15], 16)`` == big-endian top 60 bits of the
  digest == Spark ``conv(substring(md5(g),1,15),16,10)``)
- h32      = hash60 % 4294967291 (largest prime < 2^32)
- minhash  = min over shingles of ``(a*h32 + b) % P`` per permutation —
  a < 2^31, h32 < 2^32 keeps a*h32+b < 2^63 (computed in uint64, exact)
- simhash  = bit j set iff sum over distinct shingles of
  ``(bit_j(hash60) ? +1 : -1)`` > 0

Docs with fewer than k tokens produce no shingles and are DROPPED
(mapInPandas lets the kernel drop rows — matching the JVM path's
``filter(size(h) > 0)`` and the oracle's empty unnest).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

H32_P = 4294967291  # largest prime < 2^32 (functions/text.H32_P)

# sub-chunk bound: cap the transient N x 60 / N x n_perms work matrices at
# a few tens of MB per Python worker regardless of Arrow batch size
_MAX_CHUNK_SHINGLES = 1 << 18


def _doc_hashes(text: str | None, k: int, distinct: bool) -> list[int] | None:
    """60-bit shingle hashes of one doc, in shingle order; None if the doc
    is too short to shingle (or null)."""
    if text is None:
        return None
    toks = text.split(" ")
    if len(toks) < k:
        return None
    md5 = hashlib.md5
    if distinct:
        seen = set()
        out = []
        for tri in zip(*(toks[i:] for i in range(k))):
            g = " ".join(tri)
            if g not in seen:
                seen.add(g)
                out.append(int.from_bytes(md5(g.encode()).digest()[:8], "big") >> 4)
        return out
    return [
        int.from_bytes(md5(" ".join(tri).encode()).digest()[:8], "big") >> 4
        for tri in zip(*(toks[i:] for i in range(k)))
    ]


def _batch_hashes(
    pdf: pd.DataFrame, k: int, distinct: bool
) -> tuple[list, np.ndarray, np.ndarray]:
    """(doc_ids, concat hash array uint64, per-doc counts) for one batch,
    short docs dropped."""
    ids: list = []
    hs: list[list[int]] = []
    counts: list[int] = []
    for did, txt in zip(pdf["doc_id"].values, pdf["text"].values):
        h = _doc_hashes(txt, k, distinct)
        if not h:
            continue
        ids.append(did)
        hs.append(h)
        counts.append(len(h))
    if not ids:
        return ids, np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    flat = np.fromiter(
        (x for h in hs for x in h), dtype=np.uint64, count=sum(counts)
    )
    return ids, flat, np.asarray(counts, dtype=np.int64)


def _chunks(counts: np.ndarray, cap: int) -> Iterator[tuple[int, int, int, int]]:
    """Yield (doc_lo, doc_hi, shingle_lo, shingle_hi) slices whose shingle
    totals stay under cap (single over-cap docs form their own slice)."""
    lo = 0
    s_lo = 0
    acc = 0
    for i, c in enumerate(counts):
        if acc and acc + int(c) > cap:
            yield lo, i, s_lo, s_lo + acc
            lo, s_lo, acc = i, s_lo + acc, 0
        acc += int(c)
    if acc:
        yield lo, len(counts), s_lo, s_lo + acc


def simhash(docs: DataFrame, n_bits: int = 60, k: int = 3) -> DataFrame:
    """(doc_id, simhash) — bit-identical to the JVM fold / DuckDB oracle."""
    if n_bits > 60:
        raise ValueError("n_bits > 60 exceeds the portable 60-bit hash width")
    bits = np.arange(n_bits, dtype=np.uint64)

    def kern(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, flat, counts = _batch_hashes(pdf, k, distinct=True)
            if not ids:
                continue
            sigs = np.empty(len(ids), dtype=np.int64)
            starts = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            for dlo, dhi, slo, shi in _chunks(counts, _MAX_CHUNK_SHINGLES):
                h = flat[slo:shi]
                # bit matrix via unpackbits over the little-endian byte view
                # (bit j of column j) — 2.4x faster than a shift broadcast
                b = np.unpackbits(
                    h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                )[:, :n_bits].astype(np.int32)
                csum = np.add.reduceat(b, starts[dlo:dhi] - slo, axis=0)
                c = 2 * csum - counts[dlo:dhi, None]
                sigs[dlo:dhi] = (
                    ((c > 0).astype(np.uint64) << bits[None, :]).sum(axis=1)
                ).astype(np.int64)
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    did_t = dict(zip(docs.schema.names, (f.dataType.simpleString() for f in docs.schema.fields)))[
        "doc_id"
    ]
    return docs.select("doc_id", "text").mapInPandas(kern, f"doc_id {did_t}, simhash long")


def minhash_signatures(
    docs: DataFrame, perms: list[tuple[int, int, int]], k: int = 3
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) — bit-identical to the JVM fold / oracle."""
    A = np.asarray([a for _, a, _ in perms], dtype=np.uint64)
    B = np.asarray([b for _, _, b in perms], dtype=np.uint64)
    P = np.uint64(H32_P)
    names = [f"mh{pid}" for pid, _, _ in perms]

    def kern(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, flat, counts = _batch_hashes(pdf, k, distinct=True)
            if not ids:
                continue
            mins = np.empty((len(ids), len(names)), dtype=np.int64)
            starts = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            for dlo, dhi, slo, shi in _chunks(counts, _MAX_CHUNK_SHINGLES):
                h32 = flat[slo:shi] % P
                v = (A[None, :] * h32[:, None] + B[None, :]) % P
                mins[dlo:dhi] = np.minimum.reduceat(
                    v, starts[dlo:dhi] - slo, axis=0
                ).astype(np.int64)
            out = pd.DataFrame({"doc_id": ids})
            for j, nm in enumerate(names):
                out[nm] = mins[:, j]
            yield out

    did_t = dict(zip(docs.schema.names, (f.dataType.simpleString() for f in docs.schema.fields)))[
        "doc_id"
    ]
    schema = ", ".join([f"doc_id {did_t}"] + [f"{nm} long" for nm in names])
    return docs.select("doc_id", "text").mapInPandas(kern, schema)


def winnow_fingerprints(
    docs: DataFrame, mod_p: int, window: int = 4, k: int = 3
) -> DataFrame:
    """(doc_id, fp): positional k-gram hashes mod `mod_p`, per-position
    window minima (window truncated at the tail, matching
    ``ROWS BETWEEN CURRENT ROW AND {window-1} FOLLOWING``), distinct per
    doc. Rows are globally distinct because doc_ids differ — equal to
    ``SELECT DISTINCT doc_id, fp`` with NO shuffle at all."""
    P = np.uint64(mod_p)

    def kern(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, flat, counts = _batch_hashes(pdf, k, distinct=False)
            if not ids:
                continue
            hmod = (flat % P).astype(np.int64)
            out_ids: list = []
            out_fps: list[np.ndarray] = []
            pos = 0
            for did, n in zip(ids, counts):
                arr = hmod[pos : pos + n]
                pos += n
                m = arr.copy()
                for s in range(1, min(window, n)):
                    np.minimum(m[: n - s], arr[s:], out=m[: n - s])
                fps = np.unique(m)
                out_ids.append(did)
                out_fps.append(fps)
            lens = [len(f) for f in out_fps]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(np.asarray(out_ids), lens),
                    "fp": np.concatenate(out_fps),
                }
            )

    did_t = dict(zip(docs.schema.names, (f.dataType.simpleString() for f in docs.schema.fields)))[
        "doc_id"
    ]
    return docs.select("doc_id", "text").mapInPandas(kern, f"doc_id {did_t}, fp long")


STOPWORDS = ("the", "a", "of", "and", "to")  # functions/text.STOPWORDS


def doc_stats(docs: DataFrame, keep: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Per-doc token statistics in ONE Arrow pass: (keep..., n_chars,
    n_tokens, n_uniq, n_stop, max_token_len, n_dup_tokens, top_bigram_n).

    Twin of oracle/text_hof.quality_metrics + repetition_metrics, which
    chain interpreted JVM HOFs (filter/transform/array_sort + an
    aggregate run-length fold) and re-evaluate split() per metric. Values
    are bit-identical (parity-pinned by test_textkern_parity), including
    the JVM null conventions: null text -> every stat NULL (size(NULL) is
    NULL since Spark 3.0) except top_bigram_n, whose coalesce(..., 0)
    yields 0."""
    from collections import Counter

    stop = set(STOPWORDS)

    def kern(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols: dict[str, list] = {c: pdf[c].tolist() for c in keep}
            n_chars: list = []
            n_tokens: list[int] = []
            n_uniq: list[int] = []
            n_stop: list[int] = []
            max_len: list = []
            n_dup: list[int] = []
            top_bg: list[int] = []
            for txt in pdf["text"].values:
                if txt is None:
                    n_chars.append(None)
                    n_tokens.append(None)
                    n_uniq.append(None)
                    n_stop.append(None)
                    max_len.append(None)
                    n_dup.append(None)
                    top_bg.append(0)
                    continue
                toks = txt.split(" ")
                n = len(toks)
                u = len(set(toks))
                n_chars.append(len(txt))
                n_tokens.append(n)
                n_uniq.append(u)
                n_stop.append(sum(t in stop for t in toks))
                max_len.append(max(map(len, toks)))
                n_dup.append(n - u)
                top_bg.append(
                    max(Counter(zip(toks, toks[1:])).values()) if n >= 2 else 0
                )
            out = pd.DataFrame(cols)
            out["n_chars"] = pd.array(n_chars, dtype="Int64")
            out["n_tokens"] = pd.array(n_tokens, dtype="Int64")
            out["n_uniq"] = pd.array(n_uniq, dtype="Int64")
            out["n_stop"] = pd.array(n_stop, dtype="Int64")
            out["max_token_len"] = pd.array(max_len, dtype="Int64")
            out["n_dup_tokens"] = pd.array(n_dup, dtype="Int64")
            out["top_bigram_n"] = np.asarray(top_bg, dtype=np.int64)
            yield out

    types = dict(
        zip(docs.schema.names, (f.dataType.simpleString() for f in docs.schema.fields))
    )
    schema = ", ".join(
        [f"{c} {types[c]}" for c in keep]
        + [
            "n_chars bigint",
            "n_tokens bigint",
            "n_uniq bigint",
            "n_stop bigint",
            "max_token_len bigint",
            "n_dup_tokens bigint",
            "top_bigram_n bigint",
        ]
    )
    return docs.select(*keep, "text").mapInPandas(kern, schema)


def cc_base(docs: DataFrame, perms: list[tuple[int, int, int]], k: int = 3) -> DataFrame:
    """One-pass base table for the dedup pipeline: (doc_id, h60 array,
    md5(text) hex, mh0..mh{n-1}) — shingle hashes for the exact-Jaccard
    refine, text hash for exact-dup pairing, minhash columns for banding,
    all computed in a single scan of the corpus. Docs too short to shingle
    keep an EMPTY h60 (and NULL minhash columns) so exact-dup pairing still
    sees them — callers must filter on h60 size before banding."""
    A = np.asarray([a for _, a, _ in perms], dtype=np.uint64)
    B = np.asarray([b for _, _, b in perms], dtype=np.uint64)
    P = np.uint64(H32_P)
    names = [f"mh{pid}" for pid, _, _ in perms]

    def kern(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list = []
            h60s: list[list[int]] = []
            ths: list[str | None] = []
            sig_idx: list[int] = []
            counts: list[int] = []
            for did, txt in zip(pdf["doc_id"].values, pdf["text"].values):
                ids.append(did)
                # null text: row kept (it still owns a doc_id / CC label);
                # th NULL matches Spark md5(NULL) — inner joins on th skip it
                ths.append(None if txt is None else hashlib.md5(txt.encode()).hexdigest())
                h = _doc_hashes(txt, k, distinct=True)
                if not h:
                    h60s.append([])
                    continue
                sig_idx.append(len(ids) - 1)
                counts.append(len(h))
                h60s.append(h)
            if not ids:
                continue
            out = pd.DataFrame({"doc_id": ids, "h60": h60s, "th": ths})
            n_docs = len(ids)
            mask = np.ones(n_docs, dtype=bool)
            mask[sig_idx] = False  # True = no signature -> NULL mh columns
            mins = np.zeros((n_docs, len(names)), dtype=np.int64)
            if sig_idx:
                cnt = np.asarray(counts, dtype=np.int64)
                flat = np.fromiter(
                    (x for i in sig_idx for x in h60s[i]),
                    dtype=np.uint64,
                    count=int(cnt.sum()),
                )
                starts = np.zeros(len(cnt), dtype=np.int64)
                np.cumsum(cnt[:-1], out=starts[1:])
                sidx = np.asarray(sig_idx, dtype=np.int64)
                for dlo, dhi, slo, shi in _chunks(cnt, _MAX_CHUNK_SHINGLES):
                    h32 = flat[slo:shi] % P
                    v = (A[None, :] * h32[:, None] + B[None, :]) % P
                    mins[sidx[dlo:dhi]] = np.minimum.reduceat(
                        v, starts[dlo:dhi] - slo, axis=0
                    ).astype(np.int64)
            for j, nm in enumerate(names):
                out[nm] = pd.arrays.IntegerArray(mins[:, j], mask.copy())
            yield out

    did_t = dict(zip(docs.schema.names, (f.dataType.simpleString() for f in docs.schema.fields)))[
        "doc_id"
    ]
    schema = ", ".join(
        [f"doc_id {did_t}", "h60 array<bigint>", "th string"]
        + [f"{nm} long" for nm in names]
    )
    return docs.select("doc_id", "text").mapInPandas(kern, schema)
