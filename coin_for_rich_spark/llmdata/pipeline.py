"""Corpus-to-training-batch operators: deterministic sampling, text
normalization, sequence packing, and distribution probes.

These are the steps between a curated corpus and a training run. Like
textstats, everything that can be column algebra is column algebra; the one
genuinely order-dependent operator (sequence packing) is implemented as the
two-phase distributed prefix sum a 100 TB corpus needs, not a single-task
global window.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_parallelism
from .dedup import _INTERMEDIATE_CACHES
from .textstats import tokenize

# ONE default sample geometry for hash_sample and its predicate: the
# predicate's complement only stays the sample's complement while the two
# defaults agree
_DEFAULT_HEX_CHARS: tuple[str, ...] = ("0",)


def hash_sample_predicate(
    id_col: str = "doc_id",
    hex_chars: tuple[str, ...] = _DEFAULT_HEX_CHARS,
) -> Column:
    """THE membership predicate behind :func:`hash_sample` — exposed so a
    caller that needs the sample's COMPLEMENT can filter on ``~coalesce(
    predicate, false)`` against the very expression the sample uses,
    instead of hand-copying it (a copied predicate silently stops being
    the complement the moment hash_sample's default geometry changes)."""
    first_hex = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    return first_hex.isin(*hex_chars)


def hash_sample(
    docs: DataFrame,
    id_col: str = "doc_id",
    hex_chars: tuple[str, ...] = _DEFAULT_HEX_CHARS,
) -> DataFrame:
    """Deterministic content-free sampling: keep a row iff the first hex
    character of md5(id) is in ``hex_chars`` — each char selects 1/16 of the
    corpus (uniformly, since md5 is equidistributed on ids).

    Unlike ``df.sample`` (engine-specific Bernoulli draw), this is a pure
    expression: reproducible across engines, stable under re-runs, re-
    partitioning, and incremental appends — the property a training-data
    holdout split must have. No shuffle; the predicate pushes to the scan
    stage.
    """
    return docs.filter(hash_sample_predicate(id_col, hex_chars))


def stratified_hash_sample(
    docs: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling — the language/domain-balancing
    draw a training mix needs: a row survives iff the first 16 bits of
    md5(id), as an integer in [0, 65536), fall below
    65536 · fraction(stratum).

    Same engine-independent determinism contract as ``hash_sample`` (stable
    under re-runs, repartitioning, appends), generalized to a per-stratum
    rate; nested draws compose (a row kept at fraction f is kept at every
    f' ≥ f — the thresholds nest), so shrinking a stratum's rate yields a
    subset of the previous sample. Pure column algebra; the predicate
    evaluates in the scan stage.

    The draw reads hex digits 5-8 of the md5 — DISJOINT from
    ``hash_sample``'s leading digit, so the two draws compose as
    independent samples: a stratified draw over a hash-held-out split
    previously reused the same leading bits and sampled at 0% or 100%
    instead of the requested rate (the holdout had already conditioned
    those bits).
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 5, 4), 16, 10
    ).cast("long")
    frac = F.lit(float(default_fraction))
    for value, f in fractions.items():
        frac = F.when(F.col(strata_col) == value, F.lit(float(f))).otherwise(frac)
    return docs.filter(h < frac * 65536)


def domain_mix_fractions(
    counts: dict[str, int],
    weights: dict[str, float],
    target_fraction: float,
) -> dict[str, float]:
    """Per-domain keep fractions realizing a target training mix: domain d
    should contribute ``weights[d]`` of a sample that is ``target_fraction``
    of the whole corpus, so its keep rate is
    ``total · target_fraction · weights[d] / counts[d]``, clamped at 1.0
    (an under-represented domain can at most be kept whole — the standard
    without-upsampling mixing rule; repeat-epoch upsampling is a training-
    loader concern, not a corpus operator).

    Pure arithmetic on IEEE doubles, separated from the DataFrame plumbing
    so the DuckDB oracle can re-derive bit-identical fractions from the
    same counts with the same expression shape. Domains absent from
    ``counts`` (or with zero rows) are dropped, not division-by-zero'd.
    """
    total = sum(counts.values())
    return {
        d: min(1.0, total * target_fraction * w / counts[d])
        for d, w in weights.items()
        if counts.get(d)
    }


def temperature_mix_weights(
    counts: dict[str, int], alpha: float
) -> dict[str, float]:
    """Target-mix weights from the standard temperature-resampling rule
    ``q_d ∝ p_d^α`` (p_d = natural share of domain d): ``alpha = 1``
    reproduces the natural mix, ``alpha → 0`` flattens toward uniform —
    the multilingual-corpus rebalancing rule (XLM-R-style exponentiated
    sampling, typically α ≈ 0.3) that keeps head domains from drowning the
    tail without hand-tuned weights. Feed the result to
    :func:`domain_mix_sample`, whose clamp-at-1.0 then realizes the mix
    without upsampling. Pure IEEE-double arithmetic on the |domains|-sized
    count dict — no corpus pass beyond the one the mixer already does.
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0 (1 = natural mix, 0 = uniform)")
    total = sum(counts.values())
    if total == 0:
        return {}
    raw = {d: (n / total) ** alpha for d, n in counts.items() if n > 0}
    z = sum(raw.values())
    return {d: v / z for d, v in raw.items()}


def domain_mix_sample(
    docs: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    target_fraction: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic domain-mixing draw — the training-mix-balancing
    operator layered on :func:`stratified_hash_sample`: given target mix
    ``weights`` (domain → share of the final sample) and an overall
    ``target_fraction``, derive each domain's keep rate from its actual
    row count and apply the md5-threshold predicate. Domains not in
    ``weights`` are excluded (fraction 0).

    Inherits every determinism property of the hash draw: reproducible
    across engines/runs/appends, and nested — raising ``target_fraction``
    keeps every previously-sampled row (thresholds scale monotonically),
    so curriculum-style growing mixes are supersets by construction.

    Scale shape: the per-domain counts are ONE tiny hash aggregate
    (|domains| rows collected — scalars, not data); the draw itself stays
    pure scan-stage column algebra, so at 100 TB this is a count pass plus
    a filter pushed to the parquet scan, no shuffle of the sampled data.
    """
    counts = {
        r[0]: r[1] for r in docs.groupBy(strata_col).count().collect()
    }
    fractions = domain_mix_fractions(counts, weights, target_fraction)
    return stratified_hash_sample(
        docs, strata_col, fractions, id_col=id_col, default_fraction=0.0
    )


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Canonical text form: strip control characters, collapse whitespace
    runs to single spaces, trim, lowercase. Emits the normalized text plus
    how many characters normalization removed (a cheap corpus-noise signal);
    ``keep_cols`` pass through unchanged (e.g. the stratum column of an
    upstream sampling step).

    Pure regexp/column algebra — per-row, no shuffle, identical semantics in
    any RE2-compatible engine (the oracle runs the same patterns in DuckDB).
    """
    t = F.col(text_col)
    cleaned = F.regexp_replace(t, r"[\x00-\x1F\x7F]", " ")
    collapsed = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    norm = F.lower(collapsed)
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        norm.alias("norm_text"),
        (F.length(t) - F.length(norm)).alias("n_chars_removed"),
    )


# redaction patterns: deliberately simple RE2-compatible classes (no
# lookaround/backrefs) so the identical pattern runs in Spark's Java regex
# and the DuckDB oracle's RE2
SCRUB_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"[0-9]{7,}", "<NUM>"),
)


def scrub_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII/noise redaction: emails, URLs, and long digit runs replaced by
    typed placeholder tokens — the standard pre-training scrub pass. Emits
    per-document counts of each redaction (the corpus-level audit signal a
    compliance review asks for). Pure regexp column algebra: per-row, no
    shuffle, order of patterns is significant (emails before bare numbers).
    """
    scrubbed = F.col(text_col)
    counts = []
    for pat, token in SCRUB_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(f"({pat})"), 1)).alias(
                f"n_{token.strip('<>').lower()}"
            )
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return docs.select(F.col(id_col), scrubbed.alias("scrubbed_text"), *counts)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunks (context windows for training/RAG):
    chunk k covers tokens [k·stride, k·stride + chunk_tokens). Emits one row
    per (doc, chunk) with the chunk text and its token span.

    ``sequence`` + ``explode`` + ``slice`` — the same declarative
    generate_series idiom as frame sampling; fan-out happens executor-side
    inside the scan stage, never on the driver. A chunk starts at every
    stride offset below the token count; the final chunk is truncated to the
    remaining tokens.
    """
    toks = tokenize(text_col)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("_n") - 1, F.lit(0)),
        F.lit(stride),
    )
    exploded = (
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n"))
        # empty/NULL docs produce NO chunks (tokenize gives them an empty
        # array): without the guard they emitted a phantom empty chunk
        .filter(F.col("_n") > 0)
        .select(
            F.col(id_col),
            "_toks",
            "_n",
            F.explode(starts).alias("tok_start"),
        )
    )
    chunk_len = F.least(F.lit(chunk_tokens), F.col("_n") - F.col("tok_start"))
    return exploded.select(
        F.col(id_col),
        (F.col("tok_start") / stride).cast("bigint").alias("chunk_id"),
        "tok_start",
        chunk_len.alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice("_toks", F.col("tok_start") + 1, chunk_len)
        ).alias("chunk_text"),
    )


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count (the packing measure). Empty/whitespace-only
    text counts 0: ``split`` on such input yields ``[""]`` (size 1), which
    would add a phantom token to every downstream packing prefix sum."""
    return F.size(F.filter(tokenize(text_col), lambda w: w != ""))


def pack_sequences(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are laid out in
    ``id_col`` order as one logical token stream and cut into fixed
    ``budget``-token training sequences; each document reports the sequence
    its first token lands in and the offset within it.

    The global running token count is the crux: a naive unpartitioned window
    (``sum().over(Window.orderBy(id))``) serializes the whole corpus through
    ONE task. This implements the scale-correct two-phase prefix sum
    instead:

    1. range-repartition by ``id_col`` (so partition p holds an id range,
       ordered), count tokens per partition — a tiny per-partition aggregate;
    2. collect the |partitions| partial sums (scalars, not rows), prefix-sum
       them on the driver, broadcast the offsets;
    3. per-partition cumulative sum + broadcast offset = exact global prefix,
       computed fully in parallel.

    The result is invariant to the partition count (the offsets compose), so
    sf0.001 and a 1000-executor run produce identical packings.

    The range partitioning itself is NOT deterministic across executions
    (repartitionByRange samples its boundaries), so the relation is persisted
    and materialized by the partial-sum job: the second (row-level) job reads
    the exact same physical partitioning from cache instead of re-sampling —
    otherwise the broadcast offsets could disagree with the partition a
    boundary row actually landed in.
    """
    n_partitions = n_partitions or docs.sparkSession.sparkContext.defaultParallelism
    base = (
        ensure_parallelism(
            docs.select(F.col(id_col), token_count(text_col).alias("n_tokens"))
        )
        .repartitionByRange(n_partitions, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    # registered for the shared drain (release_intermediate_caches): the
    # returned DataFrame still reads this cache, so its lifetime cannot end
    # here — but a looping caller must be able to release it
    _INTERMEDIATE_CACHES.append(base)
    part_sums = {
        r["_pid"]: r["s"]
        for r in base.groupBy("_pid").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(part_sums):
        offsets[pid] = acc
        acc += part_sums[pid]
    offs = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w_local = F.sum("n_tokens").over(
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = (F.coalesce(w_local, F.lit(0)) + offs[F.col("_pid")]).alias(
        "cum_before"
    )
    out = base.select(F.col(id_col), "n_tokens", cum_before)
    return out.select(
        id_col,
        "n_tokens",
        "cum_before",
        F.expr(f"cum_before div {int(budget)}").alias("seq_id"),
        (F.col("cum_before") % budget).alias("seq_offset"),
    )


def token_quantiles(
    docs: DataFrame,
    text_col: str = "text",
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    rel_tol: float = 0.1,
) -> DataFrame:
    """Token-length distribution probe: exact interpolated percentiles (the
    cross-engine-identical values) alongside an ``approx_ok`` flag asserting
    the streaming sketch (``percentile_approx`` — the 100 TB fast path, one
    pass, bounded memory) lands within ``rel_tol`` of each exact value.
    """
    t = docs.select(token_count(text_col).alias("n_tokens"))
    probs_sql = ", ".join(str(p) for p in probs)
    exact = F.expr(f"percentile(n_tokens, array({probs_sql}))")
    approx = F.expr(f"percentile_approx(n_tokens, array({probs_sql}), 10000)")
    agg = t.agg(exact.alias("ex"), approx.alias("ap"))
    ok = F.forall(
        F.zip_with(
            "ex",
            F.transform("ap", lambda x: x.cast("double")),
            lambda e, a: F.abs(e - a) <= F.greatest(e * rel_tol, F.lit(1.0)),
        ),
        lambda b: b,
    )
    # exact interpolated percentiles are rounded to 4 decimals: the linear
    # interpolation is mathematically identical across engines but the
    # floating evaluation order is not guaranteed to the last ulp
    cols = [
        F.round(F.col("ex")[i], 4).alias(f"p{int(p * 100)}")
        for i, p in enumerate(probs)
    ]
    return agg.select(*cols, ok.alias("approx_ok"))


def epoch_shuffle(
    docs: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-epoch shuffle: assign every document a shard
    and an intra-shard position that depend ONLY on (id, seed) — never on
    the input's physical partitioning — so any re-run, any cluster size,
    and any upstream re-partitioning reproduces the identical global
    order. A new ``seed`` per epoch gives a fresh permutation.

    Returns the input columns plus ``shard`` (0..n_shards-1) and ``ord``
    (the shuffle key: sort by it within a shard for the epoch order).
    Plan: one scan-stage hash projection + a hash repartition on ``shard``
    with an intra-partition sort — no global sort, no sampling-dependent
    range boundaries (``repartitionByRange`` draws boundaries from a
    sample, which is NOT stable across input layouts; hash sharding is).
    Shard sizes concentrate at n/n_shards (hash balance); the per-epoch
    reader streams shards in index order and rows in ``ord`` order.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = F.xxhash64(F.col(id_col), F.lit(seed))
    out = docs.withColumn("ord", key).withColumn(
        "shard", F.pmod(F.col("ord"), F.lit(n_shards)).cast("int")
    )
    # id_col as the final sort key: a 64-bit hash collision between two
    # docs would otherwise leave their relative order to shuffle luck
    return out.repartition(n_shards, "shard").sortWithinPartitions(
        "shard", "ord", id_col
    )


def span_corruption(
    docs: DataFrame,
    density: float = 0.15,
    span_len: int = 3,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """T5-style span-corruption example construction: mask ~``density`` of
    each document's tokens in ~``span_len``-token spans, emit the
    sentinel-marked encoder input and the decoder target.

    Returns (id_col, input_tokens, target_tokens, n_masked): masked runs
    are replaced by ``<extra_id_k>`` in the input (k in first-run order);
    the target lists each sentinel followed by the tokens it hides and
    ends with the closing sentinel — the standard denoising layout.

    Span selection is the DETERMINISTIC analog of T5's random sampling:
    tokens are grouped into fixed ``span_len`` blocks and a block masks
    iff ``xxhash64(doc_id, block, seed) mod 10^6 < density·10^6`` — same
    expected density and span geometry, but a pure function of
    (id, seed), so re-runs, cluster sizes, and input layouts produce
    byte-identical examples (and per-epoch seeds give fresh masks).

    Plan shape: tokenize+posexplode → per-DOC window for run numbering
    (partitioned by id — bounded per group, skew-safe) → one groupBy
    reassembly ordered by token position. No corpus-wide window, no UDFs.
    """
    if not 0.0 <= density <= 1.0:
        raise ValueError("density must be in [0, 1]")
    if span_len < 1:
        raise ValueError("span_len must be >= 1")
    narrow = ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
    from pyspark.sql.types import LongType

    if isinstance(docs.schema[id_col].dataType, LongType):
        # everything here is a pure per-document function, so the whole
        # constructor runs as ONE Arrow pass with ZERO exchanges (r15
        # optimization round, guide §4.2 + §8: per-doc work must not
        # shuffle). The old plan paid a corpus-wide doc-keyed Exchange,
        # two Windows (run numbering), an ObjectHashAggregate reassembly
        # (collect_list of (pos, elem) structs — every token twice), and
        # a join back to the id base. The mask draw re-derives Spark's
        # xxhash64(doc_id BIGINT, block BIGINT, seed INT) chain in
        # vectorized numpy (hashLong → hashLong → hashInt, the SAME
        # closed form the DuckDB oracle twin re-derives in SQL CTEs), and
        # the tokenizer replicates split(trim(text), '\s+') exactly:
        # Spark's trim strips 0x20 only, Java's \s is the ASCII class
        # [ \t\n\x0B\f\r]. Exactness is pinned by the hash-exact oracle
        # twin at three scales plus the value tests in
        # tests/test_pipeline.py (density edges, seed variation,
        # determinism). Non-long id types keep the relational plan below
        # (their hash chain differs per type).
        return _span_corruption_arrow(
            narrow, density, span_len, seed, text_col, id_col
        )
    toks = narrow.select(
        F.col(id_col),
        F.posexplode(F.filter(tokenize(text_col), lambda w: w != "")).alias(
            "pos", "tok"
        ),
    )
    draw = F.pmod(
        F.xxhash64(F.col(id_col), (F.col("pos") / span_len).cast("long"), F.lit(seed)),
        F.lit(1_000_000),
    )
    flagged = toks.withColumn("masked", draw < int(density * 1_000_000))
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        flagged.withColumn(
            "start",
            F.col("masked")
            & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
        )
        .withColumn("k", F.sum(F.col("start").cast("int")).over(w))
    )
    sentinel = F.concat(F.lit("<extra_id_"), (F.col("k") - 1), F.lit(">"))
    empty = F.array().cast("array<string>")
    elems = runs.select(
        F.col(id_col),
        "pos",
        F.when(~F.col("masked"), F.array(F.col("tok")))
        .when(F.col("start"), F.array(sentinel))
        .otherwise(empty)
        .alias("inp"),
        F.when(F.col("masked") & F.col("start"), F.array(sentinel, F.col("tok")))
        .when(F.col("masked"), F.array(F.col("tok")))
        .otherwise(empty)
        .alias("tgt"),
        F.col("masked").cast("int").alias("m"),
        F.col("k"),
    )

    def _ordered(col: str) -> Column:
        return F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col(col)))),
                lambda s: s[col],
            )
        )

    per_doc = elems.groupBy(id_col).agg(
        _ordered("inp").alias("input_tokens"),
        _ordered("tgt").alias("_tgt"),
        F.sum("m").alias("n_masked"),
        F.max("k").alias("_nspans"),
    )
    closing = F.concat(F.lit("<extra_id_"), F.col("_nspans"), F.lit(">"))
    base = docs.select(F.col(id_col))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce(F.col("input_tokens"), empty).alias("input_tokens"),
        F.coalesce(
            F.concat(F.col("_tgt"), F.array(closing)), empty
        ).alias("target_tokens"),
        F.coalesce(F.col("n_masked"), F.lit(0)).alias("n_masked"),
    )


# Spark's XXH64 primes (public constants of the algorithm; same values the
# DuckDB oracle twin's closed-form CTEs use)
_XXH64_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH64_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH64_P3 = np.uint64(0x165667B19E3779F9)
_XXH64_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH64_P5 = np.uint64(0x27D4EB2F165667C5)
# the ENGINE's \s on the ENGINE's trim: Spark trim strips only 0x20; Java's
# default \s is the ASCII class INCLUDING vertical tab (RE2/Python classes
# differ — \x0B matters here, unicode whitespace must NOT match)
_TOK_SPLIT = re.compile("[ \t\n\x0b\f\r]+")


def _xxh64_rotl(v: np.ndarray, r: int) -> np.ndarray:
    return (v << np.uint64(r)) | (v >> np.uint64(64 - r))


def _xxh64_fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _XXH64_P2
    h = h ^ (h >> np.uint64(29))
    h = h * _XXH64_P3
    h = h ^ (h >> np.uint64(32))
    return h


def _xxh64_long(v: np.ndarray, seed: np.ndarray | np.uint64) -> np.ndarray:
    """Spark's XxHash64.hashLong(v, seed) — one 8-byte value, full
    avalanche; vectorized mod-2⁶⁴ (exactly the oracle twin's CTE chain)."""
    h = seed + _XXH64_P5 + np.uint64(8)
    k1 = _xxh64_rotl(v * _XXH64_P2, 31) * _XXH64_P1
    h = h ^ k1
    h = _xxh64_rotl(h, 27) * _XXH64_P1 + _XXH64_P4
    return _xxh64_fmix(h)


def _xxh64_int(i: int, seed: np.ndarray) -> np.ndarray:
    """Spark's XxHash64.hashInt(i, seed) — the trailing 4-byte literal."""
    h = seed + _XXH64_P5 + np.uint64(4)
    h = h ^ np.uint64(((i & 0xFFFFFFFF) * 0x9E3779B185EBCA87) & ((1 << 64) - 1))
    h = _xxh64_rotl(h, 23) * _XXH64_P2 + _XXH64_P3
    return _xxh64_fmix(h)


def _span_corruption_arrow(
    narrow: DataFrame,
    density: float,
    span_len: int,
    seed: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """One-Arrow-pass span corruption for long ids — see span_corruption's
    dispatch comment for the exactness argument and plan-shape rationale."""
    thr = int(density * 1_000_000)
    w = int(span_len)
    out_type = (
        "struct<input_tokens:array<string>,target_tokens:array<string>,"
        "n_masked:bigint>"
    )

    @F.pandas_udf(out_type)
    def build(ids: pd.Series, texts: pd.Series) -> pd.DataFrame:
        inputs, targets, masks = [], [], []
        u64 = np.uint64
        with np.errstate(over="ignore"):
            for did, t in zip(ids, texts):
                t2 = t.strip(" ") if t is not None else ""
                toks = (
                    [x for x in _TOK_SPLIT.split(t2) if x] if t2 else []
                )
                n = len(toks)
                if n == 0:
                    # the relational plan's left-join-miss branch: no
                    # closing sentinel for a tokenless doc
                    inputs.append([])
                    targets.append([])
                    masks.append(0)
                    continue
                nb = (n + w - 1) // w
                h_doc = _xxh64_long(
                    u64(int(did) & 0xFFFFFFFFFFFFFFFF), u64(42)
                )
                blocks = np.arange(nb, dtype=np.uint64)
                h = _xxh64_int(seed, _xxh64_long(blocks, h_doc))
                # pmod: numpy int64 % follows the divisor's sign, exactly
                # Spark's pmod for a positive modulus
                mb = (h.view(np.int64) % 1_000_000) < thr
                masked = np.repeat(mb, w)[:n]
                start = masked.copy()
                start[1:] &= ~masked[:-1]
                starts_idx = np.flatnonzero(start)
                nruns = starts_idx.shape[0]
                toks_arr = np.array(toks, dtype=object)
                sentinels = np.array(
                    [f"<extra_id_{j}>" for j in range(nruns)], dtype=object
                )
                inp = toks_arr.copy()
                inp[starts_idx] = sentinels
                inputs.append(inp[~masked | start].tolist())
                m_toks = toks_arr[masked]
                tgt = np.insert(
                    m_toks, np.flatnonzero(start[masked]), sentinels
                ).tolist()
                tgt.append(f"<extra_id_{nruns}>")
                targets.append(tgt)
                masks.append(int(masked.sum()))
        return pd.DataFrame(
            {
                "input_tokens": inputs,
                "target_tokens": targets,
                "n_masked": masks,
            }
        )

    res = narrow.select(
        F.col(id_col), build(F.col(id_col), F.col(text_col)).alias("_sc")
    )
    return res.select(
        id_col,
        F.col("_sc.input_tokens").alias("input_tokens"),
        F.col("_sc.target_tokens").alias("target_tokens"),
        F.col("_sc.n_masked").alias("n_masked"),
    )
