"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003) —
the MOSS-style POSITIONAL overlap tier of the dedup ladder.

Every other near-dup tier in this package treats a document as a SET
(shingle sets for Jaccard/MinHash/SimHash, one vector for embeddings):
they answer "are these two documents mostly the same?". Winnowing answers
the complementary curation question — "do these two documents SHARE A
PASSAGE?" — with the paper's two guarantees:

- any common token run of at least ``t`` tokens is caught by at least one
  shared fingerprint (the detection threshold), and
- no common run shorter than ``k`` tokens (the noise threshold) is ever
  matched.

The algorithm: hash every token ``k``-gram, slide a window of
``w = t − k + 1`` consecutive hashes, and in each window select the
RIGHTMOST minimal hash; the selected (position, hash) pairs — expected
density 2/(w+1) of all k-grams — are the document's fingerprints. Both
selection rules (minimum, rightmost tie-break) are load-bearing: they make
neighbouring windows usually re-select the SAME hash, which is where the
w-fold row reduction comes from.

Scale posture (100 TB): fingerprint selection is pure per-row work inside
the scan stage — the corpus-sized relation that leaves the scan is the
SELECTED fingerprints (w-fold fewer rows than a full k-gram posting
list). The pair layer is ONE fp-keyed exchange feeding an inverted
doc-list fold (the exact-Jaccard count plan's shape), with the
document-frequency cap (``max_df``) applied per posting via an
fp-partition window count BEFORE any doc list is built — the same
hot-key guard discipline as the exact-Jaccard tier's candidate cap: a
fingerprint shared by thousands of documents (a license header, a
navigation bar) would otherwise contribute a quadratic blow-up all by
itself, and under the window guard its postings spill through the sort
and are dropped without ever materializing a df-sized list.

Engine-portability: the k-gram hash is the package's standard
``md5_prefix_long`` (:mod:`~.hashing` — the 60-bit integer value of the
15-hex-char md5 prefix, computed identically by Spark and DuckDB), so the
oracle re-derives the selection bit-for-bit. INT64 fingerprints instead of
hex strings is the r15 interning pass (the discipline that cut 31–37% off
the Jaccard/CC tiers at sf10): the per-window min compares 8-byte longs
instead of 16-char strings, and everything downstream of the scan — the
fp-keyed exchange and the doc-list fold — carries 8 bytes per
fingerprint. Two O(len·w) per-row passes; the hash array is
materialized as a column between them so lambda capture re-reads a bound
attribute, not the tokenization tree (the quadratic-capture trap
documented at textstats.token_ngrams).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_parallelism

from .hashing import md5_prefix_long
from .textstats import token_ngrams, tokenize


def kgram_hashes(text_col: Column | str, k: int) -> Column:
    """Array of k-gram fingerprint hashes (60-bit ``md5_prefix_long``
    values — wide enough that a corpus-scale collision is
    ~birthday(2^60), 8 bytes on every exchange), one per window start
    (linear build via token_ngrams' zip_with ladder; empty for docs under
    k tokens)."""
    toks = tokenize(text_col)
    return F.transform(token_ngrams(toks, k), md5_prefix_long)


def _winnow_select(hs_expr: Column, w: int) -> Column:
    """Winnowing selection over the hash array: for each of the
    ``max(1, H−w+1)`` windows pick the rightmost-minimal hash, dedupe
    identical (pos, fp) picks from neighbouring windows.

    The hash array is bound as a LAMBDA VARIABLE (``transform`` over a
    one-element array) rather than referenced as a projected column:
    CollapseProject re-inlines a projected expression into every lambda
    reference, which here re-hashes all n k-grams once per window —
    O(n²·w) md5 calls per row (measured 80 ms/doc). A lambda variable is
    a bound value the optimizer cannot substitute into, so the k-gram
    hashing runs exactly once per row.

    Per-window pick (r15 rewrite): for the common H ≥ w case the window's
    rightmost-minimal is computed with 2w SCALAR ops — ``least`` over w
    ``get``\\s plus a right-to-left ``when`` chain for the tie-break —
    instead of slice/reverse/array_position/array_min, each of which
    ALLOCATES a w-element array per window inside interpreted
    (non-codegen) higher-order evaluation; the selection stage is ~100%
    of this operator's wall (sf10 A/B: the pair join is noise), so those
    four allocations per window were the operator's actual cost. Short
    docs (H < w: one truncated window) keep the original array formula.
    The selected (pos, fp) pairs are IDENTICAL to the previous form —
    the when-chain scanning from the right IS "last occurrence of the
    minimum", the twin's ``wl − position(reverse(s), min(s))`` — so the
    DuckDB oracle is untouched and pins the rewrite."""

    def body(hs: Column) -> Column:
        H = F.size(hs)

        def pick_fast(i: Column) -> Column:
            vals = [F.get(hs, i + j) for j in range(w)]
            minv = F.least(*vals)
            pos = None
            for j in range(w - 1, 0, -1):
                clause = (vals[j] == minv, i + j)
                pos = F.when(*clause) if pos is None else pos.when(*clause)
            pos = pos.otherwise(i)
            return F.struct(pos.cast("long").alias("pos"), minv.alias("fp"))

        # H < w: the single truncated window [0, H)
        short_min = F.array_min(hs)
        short_pos = H - F.array_position(F.reverse(hs), short_min)
        return (
            F.when(
                H >= w,
                F.array_distinct(
                    F.transform(F.sequence(F.lit(0), H - w), pick_fast)
                ),
            )
            .when(
                H > 0,
                F.array(
                    F.struct(
                        short_pos.cast("long").alias("pos"),
                        short_min.alias("fp"),
                    )
                ),
            )
            .otherwise(F.array().cast("array<struct<pos:long,fp:bigint>>"))
        )

    return F.get(F.transform(F.array(hs_expr), body), 0)


def _doc_fp_set(arr, k: int, w: int):
    """The per-document fused selection core: k-gram build + md5 +
    window-min + unique over one token array, or None when the document
    is shorter than k tokens. The fingerprint contract is unchanged —
    ``int(md5(kgram)[:15 hex], 16)`` equals the first 60 bits of the
    digest, i.e. ``int.from_bytes(md5(b).digest()[:8], 'big') >> 4`` on
    the identical UTF-8 bytes (md5 is md5 in any engine), so the selected
    sets are bit-identical to the JVM ``md5_prefix_long`` path (pinned by
    test and by the DuckDB twin re-deriving the full selection)."""
    from hashlib import md5

    from numpy.lib.stride_tricks import sliding_window_view

    nt = len(arr)
    if nt < k:
        return None
    nh = nt - k + 1
    # every k-gram is a contiguous SLICE of the once-joined token
    # stream: tokens are whitespace-free (tokenize splits on \s+)
    # and UTF-8 continuation bytes are >= 0x80, so every 0x20 byte
    # in the joined stream is exactly a separator — gram i spans
    # [start of token i, end of token i+k-1). Hashing memoryview
    # slices of one buffer replaces nh per-gram join+encode
    # allocations (measured 2.2 -> 1.1 ms/doc, bit-identical: the
    # same bytes reach md5). A vectorized numpy MD5 was tried and
    # measured 4.5x SLOWER than hashlib's C loop (64 rounds of
    # batch-sized temporaries are memory-bound) — don't retry it.
    full = " ".join(arr).encode()
    b = np.frombuffer(full, dtype=np.uint8)
    sep = np.flatnonzero(b == 32)
    gs = np.concatenate(([0], sep + 1))[:nh]
    ge = np.concatenate((sep, [b.shape[0]]))[k - 1 :]
    mv = memoryview(full)
    hs = np.fromiter(
        (
            int.from_bytes(md5(mv[s:e]).digest()[:8], "big") >> 4
            for s, e in zip(gs.tolist(), ge.tolist())
        ),
        dtype=np.int64,
        count=nh,
    )
    if nh < w:
        return hs.min(keepdims=True)
    return np.unique(sliding_window_view(hs, w).min(axis=1))


def _fp_set_fused_udf(k: int, w: int):
    """Fully fused pair-tier selection kernel (r15 optimization round,
    second pass): :func:`_doc_fp_set` in ONE Arrow hop over the token
    array — vs the previous split (JVM k-gram strings + md5 + Arrow
    window-min) the interpreted concat ladder and the per-window
    conv()/substring drop out, and only the token array crosses the
    boundary. Measured alternating min-of-4 on the selection stage:
    sf1 1.54 -> 0.95 s."""
    empty = np.empty(0, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def fps(toks: pd.Series) -> pd.Series:
        out = []
        for arr in toks:
            sel = _doc_fp_set(arr, k, w)
            out.append(empty if sel is None else sel)
        return pd.Series(out)

    return fps


def _fp_postings_fused(k: int, w: int, id_col: str):
    """The posting-relation form of the fused kernel (r16): ONE
    mapInPandas pass emitting the exploded ``(id, n_fp, fp)`` rows
    directly. The previous shape — ``select(size(udf), explode(udf))`` —
    planned as a Project + Generate pair whose UDF expression was
    extracted into TWO ArrowEvalPython nodes, i.e. the whole md5
    selection ran twice per document (guide §4.4's duplication, which
    neither a staged projection nor asNondeterministic removed because
    the two consumers live in different operators). Emitting postings
    from the kernel leaves exactly one Python evaluation in the plan and
    drops the Generate. n_fp is the selected-set size and empty docs emit
    nothing — byte-identical to the size+explode semantics."""

    def gen(batches):
        for pdf in batches:
            ids: list = []
            sizes: list = []
            fps_chunks: list = []
            for did, arr in zip(pdf[id_col], pdf["__toks"]):
                sel = _doc_fp_set(arr, k, w)
                if sel is None or sel.shape[0] == 0:
                    continue
                m = int(sel.shape[0])
                ids.extend([did] * m)
                sizes.extend([m] * m)
                fps_chunks.append(sel)
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "n_fp": np.asarray(sizes, dtype=np.int32),
                        "fp": np.concatenate(fps_chunks),
                    }
                )

    return gen


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    t: int = 8,
) -> DataFrame:
    """Per-document winnowed fingerprints: (id, pos, fp) with ``pos`` the
    0-based token index where the selected k-gram starts. Guarantees per
    the paper: every shared run of ≥ t tokens yields ≥ 1 shared fp; no
    shared run < k tokens ever matches."""
    if not (1 <= k <= t):
        raise ValueError(f"need 1 <= k <= t, got k={k} t={t}")
    w = t - k + 1
    # widen a tiny scan first (the shingle-index discipline): selection is
    # the CPU-bound stage and otherwise inherits the scan's partition
    # count — 1 for a small parquet file, i.e. a serial selection pass
    narrow = ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
    staged = narrow.select(
        F.col(id_col),
        _winnow_select(kgram_hashes(text_col, k), w).alias("__sel"),
    )
    return staged.select(
        F.col(id_col),
        F.explode("__sel").alias("__f"),
    ).select(F.col(id_col), F.col("__f.pos").alias("pos"), F.col("__f.fp").alias("fp"))


def winnow_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    t: int = 8,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` distinct winnowed
    fingerprints — the candidate passage-overlap relation, with per-doc
    fingerprint counts carried so callers can turn ``n_shared`` into a
    containment score without another join.

    ``max_df`` drops fingerprints present in more than that many documents
    BEFORE the self-join (boilerplate guard): a single corpus-wide
    fingerprint otherwise contributes ~df²/2 pairs on its own. The dropped
    mass is boilerplate by definition — exactly what a passage-overlap
    miner wants to ignore — and the cap is the tier's skew guard at 100 TB
    (same discipline as the exact-Jaccard candidate cap)."""
    if not (1 <= k <= t):
        raise ValueError(f"need 1 <= k <= t, got k={k} t={t}")
    from pyspark.sql import Window

    w = t - k + 1
    # distinct fps AND the per-doc distinct-fp count both come out of the
    # per-row selection array — (id, fp, n_fp) is distinct by construction
    # and carries n_fp on every row, so the pair aggregate reads it back
    # with min() instead of re-joining a per-doc relation.
    #
    # Pair tier = ONE linear pipeline over ONE fp-keyed exchange (r15
    # optimization round, third pass — the exact-Jaccard count plan's
    # inverted-doc-list shape): an fp-partition window count gives df per
    # posting with no extra exchange, the max_df boilerplate guard and the
    # df >= 2 filter apply BEFORE any doc list is built (a hot fingerprint
    # spills through the window sort instead of materializing a df-sized
    # list — the memory posture the old broadcast anti-join bought, kept),
    # and the surviving ≤ max_df doc lists explode into ordered pairs.
    # Replaces the old persist + hot-fp aggregate + broadcast anti-join +
    # self-join: no cache materialization, no broadcast build, and the
    # scan→winnow pipeline runs exactly once per pass. Widen a tiny scan
    # first: the fused selection UDF is the CPU-bound stage and otherwise
    # inherits the scan's partition count (1 for a small parquet file — a
    # SERIAL Python pass; at corpus scale the scan is naturally wide and
    # this is a no-op). The kernel emits the exploded (id, n_fp, fp)
    # postings itself (_fp_postings_fused): the former size+explode pair
    # evaluated the md5 selection TWICE per document (two ArrowEvalPython
    # nodes — guide §4.4; measured r16: postings stage 1.30 → 0.55 s).
    id_type = docs.schema[id_col].dataType.simpleString()
    # backtick-quoted: a DDL string reparses the name, so a space, hyphen or
    # reserved word in it would otherwise fail to parse
    id_ddl = "`" + id_col.replace("`", "``") + "`"
    fpd = (
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), tokenize(text_col).alias("__toks"))
        .mapInPandas(
            _fp_postings_fused(k, w, id_col),
            f"{id_ddl} {id_type}, n_fp int, fp bigint",
        )
        .repartition(F.col("fp"))
    )
    fpk = fpd.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).filter((F.col("df") >= 2) & (F.col("df") <= max_df))
    grouped = fpk.groupBy("fp").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(id_col).alias("doc"), F.col("n_fp").alias("n"))
            )
        ).alias("docs")
    ).select("docs", F.size("docs").alias("df"))
    # suffix length computed exactly (df - i - 1), not an INT_MAX sentinel —
    # see the Jaccard count plan's interpreted-Slice overflow note
    return (
        grouped.select("docs", "df", F.posexplode("docs").alias("i", "a"))
        .select(
            "a",
            F.explode(
                F.slice("docs", F.col("i") + 2, F.col("df") - F.col("i") - 1)
            ).alias("b"),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min("a.n").alias("n_fp_a"),
            F.min("b.n").alias("n_fp_b"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )
