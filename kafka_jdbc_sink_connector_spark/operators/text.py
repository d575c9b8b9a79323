"""Text-analysis operators for training-data pipelines.

All pure ``pyspark.sql.functions`` expressions (JVM-side, codegen'd,
no Python in the hot path), designed so an ANSI-SQL oracle (DuckDB)
can reproduce them bit-for-bit:

* tokenization = trim + split on ``\\s+`` (both engines agree),
* hashing = ``md5`` hex strings (identical in Spark and DuckDB);
  hex strings compare lexicographically, so ``min(md5(...))`` is a
  portable 1-permutation MinHash,
* simhash bits = the high bit of each md5 hex digit (``8..f`` → 1),
  avoiding engine-specific hex→int conversions.

At 100 TB these run as a single scan with whole-stage codegen — no
shuffle at all for the per-document columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny built-in stopword list (public knowledge; keep in sync with the
#: SQL oracle in __spark_entry__)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

_HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def tokens(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def fan_out(df, *key_cols: str):
    """Scale-adaptive parallelism repair for CPU-heavy per-row work
    (hashing, shingling, signature aggregation) whose input scan is
    under-parallel — the common small-corpus / single-row-group case
    where one parquet file gives ONE unsplittable scan task and a
    32-core executor runs the whole hash pipeline single-threaded.

    If the planned scan parallelism is at least half the session's
    default parallelism (large inputs: many files/splits), the frame
    is returned UNCHANGED — no shuffle is added at scale, where the
    payload pass would actually cost something. Otherwise the frame
    is hash-repartitioned on ``key_cols`` (deterministic — hash
    partitioning needs no sort-before-repartition and is stable
    under task retry) to the session's default parallelism. Row
    contents are untouched; callers must only aggregate with
    partition-order-insensitive functions (min/max/count/integer
    sums — everything this module's consumers use)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning quirk: skip repair
        return df
    if target <= 1 or n >= max(2, target // 2):
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols])


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


#: BPE-style pretokenizer (GPT-2-family shape, simplified to the
#: RE2-compatible subset — no lookahead — so the DuckDB oracle runs
#: the identical pattern): optionally-space-prefixed letter runs,
#: digit runs, punctuation runs, plus residual whitespace
BPE_TOKEN_RE = r" ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(text: str | Column) -> Column:
    """Pretokenizer match count — the cheap proxy for 'how many BPE
    tokens will this cost' used when sizing training corpora. A real
    tokenizer merges WITHIN these matches, so every match yields ≥ 1
    token: this LOWER-bounds and tracks the true count. One codegen'd
    regexp per row, no Python; for real vocab-driven counts see
    :mod:`.bpe` (Arrow-batched, the honest slow path)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0))


def stopword_count(text: str | Column) -> Column:
    return F.size(
        F.filter(tokens(text), lambda w: F.lower(w).isin(*STOPWORDS))
    )


def avg_word_len(text: str | Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, w: acc + F.length(w)
    )
    return F.round(total / F.size(toks), 4)


def quality_columns(text: str | Column) -> dict[str, Column]:
    """Length/word/stopword-based quality features + a coarse bucket
    (the standard heuristic pre-filter for LLM training corpora)."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    sw_ratio = F.round(stopword_count(c) / n_tok, 4)
    awl = avg_word_len(c)
    bucket = (
        F.when((n_tok < 5) | (awl > 12), F.lit("low"))
        .when(sw_ratio >= 0.05, F.lit("high"))
        .otherwise(F.lit("mid"))
    )
    return {
        "n_chars_calc": F.length(c),
        "n_tokens": n_tok,
        "avg_word_len": awl,
        "stopword_ratio": sw_ratio,
        "quality_bucket": bucket,
    }


def filter_verdict(
    text: str | Column,
    min_tokens: int = 20,
    max_avg_word_len: float = 12.0,
    max_repetition: float = 0.2,
    min_stopword_ratio: float = 0.02,
    shingle_k: int = 5,
) -> tuple[Column, Column]:
    """The curation DECISION step: ``(keep, reason)`` columns
    composing the quality/repetition signals into one keep/drop
    verdict with the FIRST failing rule as the reason (NULL when
    kept) — the same first-failure-wins shape as the CDC path's
    ``validate.error_expr``, so downstream audits can group drops by
    cause. Rules in fixed order: ``too_short`` (< ``min_tokens``
    whitespace tokens), ``words_too_long`` (avg word length >
    ``max_avg_word_len`` — code/garbage signal), ``repetitive``
    (repeated ``shingle_k``-word windows > ``max_repetition`` —
    boilerplate), ``low_stopword_density`` (< ``min_stopword_ratio``
    — non-prose). All thresholds compare the same ROUNDED values the
    feature columns emit, so an ANSI oracle lands on identical
    boundary decisions. Single codegen'd scan, no shuffle, no
    Python."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    awl = avg_word_len(c)
    swr = F.round(stopword_count(c) / n_tok, 4)
    rep = repetition_ratio(c, shingle_k)
    reason = (
        F.when(n_tok < min_tokens, F.lit("too_short"))
        .when(awl > max_avg_word_len, F.lit("words_too_long"))
        .when(rep > max_repetition, F.lit("repetitive"))
        .when(swr < min_stopword_ratio, F.lit("low_stopword_density"))
    )
    return reason.isNull(), reason


def _split_hash(id_col: str | Column, salt: str) -> Column:
    """``md5(salt || id)[:8]`` — the shared salted hash behind
    :func:`hash_split` and :func:`stratified_keep`. Hex strings of
    equal length order exactly like the integers they encode, so
    membership tests are plain string comparisons on both Spark and
    an ANSI oracle."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(
        F.md5(F.concat(F.lit(salt), c.cast("string")).cast("binary")),
        1, 8,
    )


def _keep_below(h: Column, frac: float) -> Column:
    """``h < hex_threshold(frac)`` with the frac==1.0 saturation guard
    (a 9-hex-digit threshold would break the fixed-width string
    comparison and drop everything)."""
    cut = int(frac * 16 ** 8)
    if cut >= 16 ** 8:
        return F.lit(True)
    return h < F.lit(format(cut, "08x"))


def hash_split(
    id_col: str | Column,
    weights: dict[str, float],
    salt: str = "",
) -> Column:
    """Deterministic train/val/test split assignment by content hash —
    the standard way large corpora are split so membership is stable
    under re-runs, re-shards, and incremental additions (no RNG, no
    state).

    ``u = md5(salt || id)[:8]`` (:func:`_split_hash`) is compared
    LEXICOGRAPHICALLY against precomputed hex thresholds
    (:func:`_keep_below`) — no engine-specific hex→int conversion.
    Codegen'd, zero shuffle. ``weights`` need not be normalized.
    """
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-empty and non-negative")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to > 0")
    names = list(weights)
    h = _split_hash(id_col, salt)
    out = None
    acc = 0.0
    for name in names[:-1]:
        acc += weights[name] / total
        # cumulative weight may reach 1.0 before the last name (the
        # remaining names have zero weight): _keep_below saturates to
        # TRUE so everything left goes here rather than leaking into
        # the zero-weight splits
        cond = _keep_below(h, acc)
        out = F.when(cond, F.lit(name)) if out is None else out.when(
            cond, F.lit(name)
        )
    last = F.lit(names[-1])
    return last if out is None else out.otherwise(last)


def stratified_keep(
    id_col: str | Column,
    stratum_col: str | Column,
    fractions: dict[str, float],
    salt: str = "",
) -> Column:
    """Deterministic per-stratum subsampling predicate — the standard
    corpus-mixing move (keep 50% of web text, 100% of books, …):
    ``keep iff md5(salt || id)[:8] < hex_threshold(fraction of the
    row's stratum)`` — the SAME :func:`_split_hash` /
    :func:`_keep_below` machinery as :func:`hash_split`, so membership
    is stable under re-runs, re-shards, and incremental additions, and
    an ANSI oracle decides it with plain string comparison. Rows whose
    stratum is not listed are DROPPED (an unlisted stratum has no
    sampling rate — silently keeping it would change the mix).
    Codegen'd, zero shuffle."""
    s = (F.col(stratum_col) if isinstance(stratum_col, str)
         else stratum_col)
    if not fractions:
        raise ValueError("fractions must be non-empty")
    for name, frac in fractions.items():
        if not (0.0 <= frac <= 1.0):
            raise ValueError(
                f"fraction for stratum {name!r} must be in [0, 1], "
                f"got {frac}"
            )
    h = _split_hash(id_col, salt)
    out = None
    for name, frac in fractions.items():
        keep = _keep_below(h, frac)
        out = (F.when(s == name, keep) if out is None
               else out.when(s == name, keep))
    return out.otherwise(F.lit(False))


def temperature_mix_keep(
    id_col: str | Column,
    domain_col: str | Column,
    counts: dict[str, int],
    temperature: float = 0.5,
    salt: str = "",
) -> Column:
    """Deterministic temperature-T corpus rebalancing predicate — the
    standard multilingual/multi-domain mixing move (flatten the head,
    keep the tail): sample domain ``d`` at rate
    ``r_d = min(1, (n_min / n_d) ** (1 - T))`` so effective sizes go
    ``n_d ** T`` (scaled) with the SMALLEST listed domain kept whole —
    pure downsampling, no upsampling, no RNG (stable under re-runs,
    re-shards, incremental additions, like :func:`hash_split`).

    Membership: ``h = int(md5(salt || id)[:4], 16)`` (uniform in
    ``[0, 2^16)``); keep iff ``h < r_d * 2^16``. At the default
    ``T = 0.5`` the comparison is EXACT INTEGER arithmetic —
    ``h^2 * n_d < n_min * 2^32`` (squaring ``h/2^16 < sqrt(n_min/n_d)``
    clears the square root) — so an ANSI oracle reproduces it
    bit-for-bit with no float rounding anywhere. Other temperatures
    compute the per-domain cut ``int(r_d * 2^16)`` driver-side in
    float (fine for the engine; an exactness-critical oracle should
    pin T=0.5 or supply precomputed integer cuts). Rows whose domain
    is not in ``counts`` are DROPPED, like :func:`stratified_keep`.

    ``counts`` is per-domain row counts — bounded by the number of
    domains, so obtaining it is one map-side-combined aggregation and
    a tiny collect (see :func:`temperature_mix`). The predicate itself
    is a codegen'd CASE over domains: single scan, zero shuffle.
    """
    if not counts:
        raise ValueError("counts must be non-empty")
    for name, n in counts.items():
        if n <= 0:
            raise ValueError(
                f"count for domain {name!r} must be > 0, got {n}"
            )
    if not (0.0 < temperature <= 1.0):
        raise ValueError(
            f"temperature must be in (0, 1], got {temperature}"
        )
    d = (F.col(domain_col) if isinstance(domain_col, str)
         else domain_col)
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), c.cast("string")).cast("binary")),
            1, 4,
        ),
        16, 10,
    ).cast("long")
    n_min = min(counts.values())
    out = None
    for name, n in counts.items():
        if temperature == 0.5:
            # exact: h/2^16 < sqrt(n_min/n_d)  <=>  h^2 * n_d < n_min * 2^32
            # (h < 2^16 and n_d row counts keep h^2 * n_d well inside
            # int64 for any table under ~2^31 rows per domain; at
            # larger scale pre-divide counts by their gcd)
            keep = (h16 * h16 * F.lit(int(n))) < F.lit(n_min * (1 << 32))
        else:
            r = (n_min / n) ** (1.0 - temperature)
            cut = int(r * (1 << 16))
            keep = F.lit(True) if cut >= (1 << 16) else h16 < F.lit(cut)
        out = (F.when(d == name, keep) if out is None
               else out.when(d == name, keep))
    return out.otherwise(F.lit(False))


def temperature_mix(
    df,
    id_col: str = "doc_id",
    domain_col: str = "source",
    temperature: float = 0.5,
    salt: str = "",
):
    """Apply :func:`temperature_mix_keep` with counts computed from
    ``df`` itself: one aggregation (map-side partial combine, shuffle
    bounded by the number of domains), a domain-count collect (bounded
    by the number of domains — never data-sized), then the zero-shuffle
    keep scan."""
    rows = df.groupBy(domain_col).count().collect()
    counts = {r[domain_col]: r["count"] for r in rows if r[domain_col] is not None}
    return df.filter(
        temperature_mix_keep(id_col, domain_col, counts, temperature, salt)
    )


def lang_id(text: str | Column) -> Column:
    """N-gram/stopword language heuristic: English stopword density →
    'en', else 'unknown'. (A real model would score per-language
    marker sets; the shape — density argmax over marker lists — is
    identical and SQL-mirrorable.)"""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(
        stopword_count(c) / token_count(c) >= 0.02, F.lit("en")
    ).otherwise(F.lit("unknown"))


def word_shingles(text: str | Column, k: int = 5) -> Column:
    """Overlapping k-word shingles as space-joined strings; documents
    shorter than k words yield one whole-document shingle.

    The token array is bound ONCE per row via a single-element
    ``transform`` lambda: referencing the ``tokens(text)`` expression
    directly inside the per-shingle lambda would re-evaluate the
    regex split for EVERY shingle (O(words²) per document — measured
    ~15x slower on shingle-heavy corpora); binding it as a lambda
    variable makes each shingle a cheap slice of the already-split
    array. Same values, same NULL/empty-string semantics."""
    toks = tokens(text)
    return F.get(
        F.transform(F.array(toks), lambda t: shingles_of_tokens(t, k)), 0
    )


def shingles_of_tokens(toks: Column, k: int = 5) -> Column:
    """Shingles from an ALREADY-BOUND token-array column (a projected
    column or lambda variable) — the cheapest form: callers that can
    project ``tokens(text)`` first should prefer this over
    :func:`word_shingles` (one less lambda nesting level, measured a
    further ~15% on the signature hot loop)."""
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )


def fingerprint(text: str | Column, k: int = 5) -> Column:
    """Document fingerprint = min(md5(shingle)) — a 1-perm MinHash on
    the shingle set; stable under duplication/reordering of identical
    content windows."""
    return F.array_min(F.transform(word_shingles(text, k), F.md5))


def repetition_ratio(text: str | Column, k: int = 5) -> Column:
    """Fraction of repeated k-word windows: ``1 - |distinct shingles| /
    |shingles|``. The standard boilerplate/spam signal in corpus
    filtering (high ratio = the document repeats itself); pure
    codegen'd array expressions over the same shingling as the dedup
    family, single scan, no shuffle."""
    sh = word_shingles(text, k)
    return F.round(
        F.lit(1.0)
        - F.size(F.array_distinct(sh)) / F.size(sh).cast("double"),
        4,
    )


#: deliberately RE2-compatible regex subset (no backrefs/lookaround)
#: so the DuckDB oracle runs the IDENTICAL pattern
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
DIGIT_RUN_RE = r"[0-9]{7,}"


def redact_pii(text: str | Column) -> Column:
    """Pre-training hygiene scrub: emails → ``<EMAIL>``, 7+-digit runs
    (phone/account-number shaped) → ``<NUM>``. JVM ``regexp_replace``
    inside whole-stage codegen — no Python in the scan."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, DIGIT_RUN_RE, "<NUM>")


def pii_counts(text: str | Column) -> dict[str, Column]:
    """Match counts per category (what a redaction audit reports)."""
    return {
        "n_emails": F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)),
        "n_digit_runs": F.size(
            F.regexp_extract_all(text, F.lit(DIGIT_RUN_RE), 0)
        ),
    }


def minhash_signature(text: str | Column, n_perm: int = 8, k: int = 5) -> Column:
    """n_perm-permutation MinHash: permutation j = md5 keyed with the
    permutation index; each signature element is a hex string (string
    min is portable across engines)."""
    sh = word_shingles(text, k)

    def perm_hash(j: int):
        prefix = f"{j}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    return F.array(
        *[
            F.array_min(F.transform(sh, perm_hash(j)))
            for j in range(n_perm)
        ]
    )


def simhash_table(
    docs, id_col: str = "doc_id", text_col: str = "text",
    n_bits: int = 32,
):
    """(id, simhash) for a whole table via explode + codegen'd hash
    aggregation — the per-row HOF fold evaluates interpreted; n_bits
    conditional SUMs over exploded tokens get partial aggregation +
    codegen (~10x measured win).

    Bit b's vote is the high bit of hex digit b%32 of
    md5('<b//32>|' + word) — one salted digest per 32-bit block, so
    any multiple of 32 bits works. Wider fingerprints matter at scale:
    the banded near-dup join's bucket count is 2^(n_bits/n_bands), and
    8-bit bands (32-bit hash, 4 bands) collapse a web-scale corpus
    into 256 buckets — quadratic candidates. 64-bit/4-band = 16-bit
    bands = 65k buckets."""
    if n_bits % 32 or n_bits > 64:
        raise ValueError("n_bits must be 32 or 64")
    def digest(block: int):
        if block == 0:
            return F.md5("__w")  # block 0 = the historical layout
        return F.md5(F.concat(F.lit(f"{block}|"), F.col("__w")))

    # hoist the per-token digests into ONE projection: the n_bits
    # conditional sums below each read a hex digit of the same md5 —
    # leaving the digest inside every aggregate expression hashes
    # each token up to n_bits times (codegen does not always
    # eliminate the common subexpression across aggregate buffers);
    # values are identical, the aggregates only take substrings.
    # fan_out: the tokenize+digest loop is the CPU hot path — repair
    # an under-parallel scan (no-op at scale; the bit-vote sums are
    # partition-order independent)
    toks = fan_out(
        docs.select(F.col(id_col), F.col(text_col)), id_col
    ).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w")
    ).select(
        F.col(id_col),
        *[digest(blk).alias(f"__d{blk}") for blk in range(n_bits // 32)],
    )

    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.substring(
                        F.col(f"__d{b // 32}"), b % 32 + 1, 1
                    ).isin(*_HIGH_HEX),
                    1,
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(n_bits)
        ]
    )
    out = F.lit(0).cast("long")
    for b in range(n_bits):
        # bit 63 is the sign bit of the long: its two's-complement
        # value is -(2^63); added last so no intermediate overflows
        term = (1 << b) if b < 63 else -(1 << 63)
        out = out + F.when(
            F.col(f"v{b}") > 0, F.lit(term).cast("long")
        ).otherwise(0)
    return votes.select(F.col(id_col), out.alias("simhash"))


def simhash32_table(
    docs, id_col: str = "doc_id", text_col: str = "text"
):
    return simhash_table(docs, id_col, text_col, n_bits=32)


def simhash_dup_pairs(
    docs,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    n_bits: int = 32,
):
    """SimHash near-duplicate pairs: candidates share at least one of
    ``n_bands`` bands of the simhash (a pair within hamming distance
    < n_bands is guaranteed to agree on some band — pigeonhole), then
    exact popcount(xor) verifies ``<= max_hamming``.

    Banded candidate join, never all-pairs — the same scale shape as
    the MinHash-LSH dedup. Returns (doc_a, doc_b, hamming) with
    doc_a < doc_b.

    Scale: candidate volume ~ Σ_buckets n_b², and bucket count =
    2^(n_bits/n_bands). The 32-bit default (8-bit bands, 256 buckets)
    is fine for modest corpora and keeps the DuckDB oracle short; at
    web scale use ``n_bits=64`` (16-bit bands, 65k buckets) — same
    plan shape, 256x fewer in-bucket collisions.
    """
    sh = simhash_table(docs, id_col, text_col, n_bits=n_bits)
    width = n_bits // n_bands
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band_idx"), F.col("bk.band_key"))
    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"),
        "band_idx", "band_key",
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"),
        "band_idx", "band_key",
    )
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def pack_chunks(
    docs: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack-v1",
    shard_chars: int = 2,
) -> DataFrame:
    """Sequence packing by concatenate-then-chunk — the layout step of
    a training-data pipeline: documents are concatenated in a
    deterministic content-hash order and the token stream is cut into
    fixed ``max_tokens`` sequences. Emits, per document, the shard it
    packs into, its start offset in the shard's token stream, the pack
    (sequence) id it begins in, and whether it straddles a pack
    boundary (the fraction a loss-masking policy cares about).

    Scale shape: documents are sharded by a salted md5 prefix
    (``16^shard_chars`` shards — the same cross-engine hex-prefix
    trick as :func:`hash_split`, no engine-specific hex→int
    conversion), and the running token offset is a window cumsum
    WITHIN each shard — one hash-partitioned shuffle, no global total
    order, each shard packs independently (at 100 TB every shard is a
    few GB and the window never sees more than its shard).
    Determinism: order within a shard is (full hash, id), so re-runs,
    re-partitioning, and incremental re-packs place every document
    identically.
    """
    from pyspark.sql import Window

    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    cid = F.col(id_col)
    h = F.md5(F.concat(F.lit(salt), cid.cast("string")).cast("binary"))
    w = (
        Window.partitionBy("shard")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        docs.select(
            cid.alias(id_col),
            token_count(F.col(text_col)).alias("n_tokens"),
            F.substring(h, 1, shard_chars).alias("shard"),
            h.alias("__h"),
        )
        .withColumn(
            "start_off",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
        )
        .withColumn(
            "pack_id",
            F.floor(F.col("start_off") / F.lit(max_tokens)).cast("long"),
        )
        .withColumn(
            "spans_boundary",
            (F.pmod(F.col("start_off"), F.lit(max_tokens))
             + F.col("n_tokens")) > F.lit(max_tokens),
        )
        .drop("__h")
    )
    return out


def assemble_transcripts(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    line: Column,
    sep: str = "\n",
) -> DataFrame:
    """Collapse each key's ordered rows into ONE training-ready text
    row — the transcript-assembly step that turns a per-turn CDC table
    (``conv_id``/``turn_idx``/``role``/``text``) into whole-conversation
    documents for the curation/dedup/packing operators downstream.

    Scale shape: ``collect_list(struct(order, line))`` per key with
    map-side partial aggregation, then a codegen'd ``array_sort`` +
    ``transform`` + ``array_join`` on the grouped row — ONE shuffle on
    the key, no window, no global order, no Python, and the sort is
    per-conversation (bounded by turns-per-conversation, not
    partition size).

    Returns ``key_cols + (n_turns, transcript, transcript_chars)``.
    """
    turn = F.struct(F.col(order_col).alias("__o"), line.alias("__l"))
    agg = df.groupBy(*key_cols).agg(
        F.array_sort(F.collect_list(turn)).alias("__turns")
    )
    return agg.select(
        *key_cols,
        F.size("__turns").alias("n_turns"),
        F.array_join(
            F.transform(F.col("__turns"), lambda t: t["__l"]), sep
        ).alias("transcript"),
    ).withColumn("transcript_chars", F.length("transcript"))
