"""Document deduplication operators (exact + near-dup) for
training-data pipelines, DataFrame-native.

Scale design:

* **exact**: hash-groupBy on ``md5(text)`` — one shuffle on a short
  key; canonical id = min(doc_id) per group (deterministic).
* **MinHash + LSH**: signature (no shuffle) → band keys → explode to
  (band_idx, band_key) → self-join *within buckets only* → candidate
  pairs → exact Jaccard verify on candidates. The classic
  shingle→minhash→band→bucket-join pipeline; the only joins are on
  band buckets and candidate pairs, never all-pairs.
* **n-gram Jaccard**: inverted-index join on *rare* shingles
  (document-frequency ≤ ``max_df``), which bounds bucket fan-out the
  same way frequency-pruned posting lists do; exact Jaccard via
  |A∩B| / (|A| + |B| - |A∩B|) from shared-shingle counts.
* **SimHash**: 32-bit signature; near-dups = identical signature (or
  banded sub-signatures for hamming>0 at scale).
* **embedding cosine**: see ``operators/similarity.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.operators.text import (
    fan_out,
    word_shingles,
)


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """doc_id → canonical_id (min doc_id with identical text hash) +
    is_dup flag."""
    h = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
    canon = h.groupBy("text_md5").agg(F.min(id_col).alias("canonical_id"))
    return (
        h.join(canon, "text_md5")
        .select(
            id_col,
            "canonical_id",
            (F.col(id_col) != F.col("canonical_id")).alias("is_dup"),
        )
    )


def shingle_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """(doc_id, shingle) inverted-index rows (distinct per doc).

    The input is fanned out first (:func:`..text.fan_out`): shingling
    + the downstream per-shingle hashing is the CPU hot loop of every
    MinHash/Jaccard consumer, and an under-parallel scan (one parquet
    file = one task) would run it single-threaded regardless of
    cores. No-op at scale; results are partition-order independent
    (min/count aggregates only downstream)."""
    from kafka_jdbc_sink_connector_spark.operators.text import (
        shingles_of_tokens,
        tokens,
    )

    return (
        fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col)
        # tokens projected ONCE as a column, shingles sliced from the
        # bound attribute — same values as word_shingles(text), one
        # less lambda nesting level in the hot loop
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(shingles_of_tokens(F.col("__toks"), k))
            ).alias("shingle"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    max_df: int = 20,
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over k-word shingle sets,
    candidate-generated through shingles with document frequency ≤
    ``max_df`` (rare-feature inverted index join).

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b. Pairs whose
    only shared shingles are frequent (df > max_df) are not candidates
    — the standard recall/cost trade documented for posting-pruned
    similarity joins.
    """
    idx = shingle_index(docs, id_col, text_col, k)
    sizes = idx.groupBy(id_col).agg(F.count("*").alias("set_size"))
    df_counts = idx.groupBy("shingle").agg(F.count("*").alias("df"))
    # no broadcast hint: most shingles are rare, so the df<=max_df
    # side is proportional to corpus vocabulary and would OOM the
    # driver at scale — let AQE pick the join strategy from measured
    # sizes (it will broadcast only when genuinely small)
    rare = idx.join(df_counts.filter(F.col("df") <= max_df), "shingle")
    a = rare.select(F.col(id_col).alias("doc_a"), "shingle")
    b = rare.select(F.col(id_col).alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_rare"))
    )
    # n_shared_rare counts only rare shingles; compute the *true*
    # intersection for candidates via a second semi-join pass
    cand = shared.select("doc_a", "doc_b")
    ix = (
        idx.withColumnRenamed(id_col, "doc_a")
        .join(cand, "doc_a")
        .join(
            idx.select(F.col(id_col).alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b")
    )
    out = (
        ix.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def minhash_band_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 8,
    bands: int = 4,
    k: int = 5,
) -> DataFrame:
    """Banded MinHash signature rows ``(id_col, band_idx, band_key)``
    — one row per document per band, the persistable unit of LSH
    state (both the in-memory self-join in
    :func:`minhash_lsh_candidates` and the on-lake signature index in
    :class:`~.incremental.MinHashDedupIndex` consume this shape).

    Signature via explode + codegen'd hash aggregate, NOT the
    array/higher-order-function form (``text.minhash_signature``):
    HOF lambdas evaluate interpreted (outside whole-stage codegen,
    no common-subexpression elimination) and measured ~10x slower;
    min() over exploded shingles gets partial aggregation and
    codegen. Identical values: min over a multiset ignores dups.
    """
    rows = n_perm // bands
    if rows * bands != n_perm:
        raise ValueError("bands must divide n_perm")
    idx = shingle_index(docs, id_col, text_col, k)
    sig = idx.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))).alias(
                f"s{j}"
            )
            for j in range(n_perm)
        ]
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"s{b * rows + r}") for r in range(rows)]
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select(id_col, *band_cols)
    return banded.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"band_{b}").alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band_idx", "bk.band_key")


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 8,
    bands: int = 4,
    k: int = 5,
) -> DataFrame:
    """Candidate near-dup pairs from banded MinHash signatures.

    ``n_perm`` permutations split into ``bands`` bands of
    ``n_perm // bands`` rows; docs sharing any band key are candidates.
    Returns (doc_a, doc_b, n_bands_shared), doc_a < doc_b.
    """
    stacked = minhash_band_table(docs, id_col, text_col, n_perm, bands, k)
    # materialize once: both self-join sides would otherwise recompute
    # the signature aggregation
    stacked = stacked.localCheckpoint(eager=False)
    a = stacked.select(
        F.col(id_col).alias("doc_a"), "band_idx", "band_key"
    )
    b = stacked.select(
        F.col(id_col).alias("doc_b"), "band_idx", "band_key"
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands_shared"))
    )


def _cc_ckpt(df: DataFrame) -> DataFrame:
    """Per-round lineage truncation for the CC iteration state.

    Default: ``localCheckpoint(eager=False)`` — the checkpoint
    materializes with the round's own convergence-probe action, so no
    extra job is paid. ``SPARK_GRAFT_CC_EAGER=1`` switches to eager
    checkpointing (an immediate materialization job per round) for
    interleaved A/B measurement; see the adjudication note in
    BENCH/BASELINE.md before changing the default.
    """
    return df.localCheckpoint(
        eager=os.environ.get("SPARK_GRAFT_CC_EAGER") == "1"
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
    algorithm: str = "hash-to-min",
) -> DataFrame:
    """Undirected edge list → (node, component) where component = the
    minimum node id reachable from the node.

    This is the step that turns pairwise near-dup evidence into dedup
    GROUPS: near-duplicate relations are not transitive pair-by-pair
    (A~B, B~C does not test A~C), but curation pipelines deduplicate
    whole clusters, so the standard move is connected components over
    the candidate-pair graph.

    Algorithm: hash-to-min label propagation — every node starts
    labeled min(self, neighbors); each round propagates the minimum
    label one hop (one edge join + min aggregate = one bounded shuffle
    of E edges) until a fixpoint. Rounds needed = component diameter;
    near-dup clusters are near-cliques (diameter ≈ 2), so this
    converges in 2-4 rounds regardless of corpus size. Each round is
    ``localCheckpoint``-ed so round N's plan does not recompute rounds
    1..N-1, and the convergence check collects ONE scalar (an
    existence probe, not data). For adversarial long-chain graphs
    (round count = diameter would be fatal at web scale) pass
    ``algorithm="two-phase-star"``: the large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", O(log² n) rounds with high probability regardless of
    diameter) behind the same interface —
    :func:`connected_components_star`.
    """
    if algorithm == "two-phase-star":
        return connected_components_star(pairs, a_col, b_col, max_iters)
    if algorithm != "hash-to-min":
        raise ValueError(
            f"unknown algorithm {algorithm!r} "
            f"(hash-to-min | two-phase-star)"
        )
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    edges = _cc_ckpt(edges)
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("lbl"))
        .select("src", F.least("src", "lbl").alias("lbl"))
        .transform(_cc_ckpt)
    )
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, "src")
            .groupBy(F.col("dst").alias("src"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        new = (
            labels.join(neigh, "src", "left")
            .select(
                "src",
                F.least(
                    F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))
                ).alias("lbl"),
            )
            .transform(_cc_ckpt)
        )
        changed = (
            new.join(labels.withColumnRenamed("lbl", "old"), "src")
            .filter(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new
        if not changed:
            break
    else:
        # the budget may equal the diameter exactly — the final round
        # applied the last change, so certify with one propagation
        # probe before declaring failure (never exit with
        # silently-wrong labels: a genuinely unconverged graph would
        # split one cluster into several with no signal, and the
        # DuckDB closure oracle would disagree)
        pending = (
            edges.join(labels, "src")
            .groupBy(F.col("dst").alias("src"))
            .agg(F.min("lbl").alias("nlbl"))
            .join(labels, "src")
            .filter(F.col("nlbl") < F.col("lbl"))
            .limit(1)
            .count()
        )
        if pending:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{max_iters} rounds — a component's diameter exceeds "
                f"the budget; raise max_iters or switch to the "
                f"large-star/small-star contraction for long-chain "
                f"graphs"
            )
    return labels.select(
        F.col("src").alias("node"), F.col("lbl").alias("component")
    )


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", 2014) — the diameter-insensitive variant for
    adversarial graphs (long chains, lattice-like near-dup webs) where
    hash-to-min's rounds-=-diameter behavior is fatal.

    Per round over the current edge set E (undirected):

    * **large-star**: for each node u with neighborhood Γ(u) and
      m = min(Γ(u) ∪ {u}), re-attach every STRICTLY LARGER neighbor
      directly to m: emit (v, m) for v ∈ Γ(u), v > u.
    * **small-star**: orient each edge larger→smaller; for each node
      hi with smaller-neighbors L and m = min(L), emit (lo, m) for
      lo ∈ L \\ {m} plus (hi, m).

    Both steps are a groupBy-min plus a projection — one bounded
    shuffle of E edges each, no join against a growing frontier — and
    the edge count never grows (each emitted edge replaces one read
    edge). The fixpoint is a star forest: every node points at its
    component's minimum. Convergence is certified structurally (the
    round leaves the edge set unchanged: equal counts + an
    existence-probe anti-join), not by a checksum; exceeding
    ``max_iters`` without a fixpoint raises rather than returning
    possibly-split labels.

    Output matches :func:`connected_components`: (node, component =
    min reachable node id).
    """
    raw = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    # node set from the RAW pairs — BEFORE the self-loop filter — so a
    # node appearing only as (u, u) still gets a label (component =
    # itself), matching the hash-to-min variant's coverage
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .transform(_cc_ckpt)
    )
    E = (
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .transform(_cc_ckpt)
    )
    n_edges = None  # carried across rounds: |E| = previous |E'|
    for _ in range(max_iters):
        # large-star over the symmetrized edge set
        sym = E.union(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("nu"),
                F.least(F.col("u"), F.col("mn")).alias("nv"),
            )
            .distinct()
        )
        # small-star on larger→smaller oriented edges (ls already is:
        # nu > u ≥ least(u, mn) = nv)
        mins2 = ls.groupBy("nu").agg(F.min("nv").alias("mn"))
        j = ls.join(mins2, "nu")
        nxt = (
            j.filter(F.col("nv") != F.col("mn"))
            .select(F.col("nv").alias("u"), F.col("mn").alias("v"))
            .union(
                mins2.select(F.col("nu").alias("u"), F.col("mn").alias("v"))
            )
            .distinct()
            .transform(_cc_ckpt)
        )
        # fixpoint test: |E'| == |E| and E' \ E == ∅ ⇒ E' == E.
        # |E| is carried from the previous round's |E'| (one count job
        # per round, plus the anti-join probe only on size ties)
        if n_edges is None:
            n_edges = E.count()
        n_next = nxt.count()
        if n_next == n_edges:
            grew = (
                nxt.join(E, ["u", "v"], "left_anti").limit(1).count()
            )
            if not grew:
                E = nxt
                break
        E, n_edges = nxt, n_next
    else:
        raise RuntimeError(
            f"connected_components_star did not reach a fixpoint within "
            f"{max_iters} rounds (bound is O(log^2 n) w.h.p. — raise "
            f"max_iters)"
        )
    # star forest: every edge is (node, component-min); roots label
    # themselves. The left join restores nodes whose every incident
    # edge contracted away before the fixpoint (defensive — keeps the
    # node set exactly equal to the input's).
    star = E.select(F.col("u").alias("node"), F.col("v").alias("lbl"))
    return (
        nodes.join(star, "node", "left")
        .select(
            "node",
            F.coalesce("lbl", F.col("node")).alias("component"),
        )
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    delimiter: str = "\n",
) -> DataFrame:
    """Corpus-level line/paragraph deduplication — the boilerplate
    pass document-level near-dup cannot do (C4/RefinedWeb-style):
    drop every line whose trimmed form occurs in at least ``min_df``
    DISTINCT documents corpus-wide (navigation chrome, cookie
    banners, license footers repeat across pages; dropping all
    occurrences is the standard curation rule). Blank lines are
    never counted or removed — they are document structure, not
    boilerplate.

    Output: ``(id_col, clean_text, n_lines, n_removed)`` — one row
    per input document (``clean_text = ''`` when every line was
    boilerplate), lines rejoined in original order.

    Scale shape (never all-pairs): explode lines → md5 line key →
    ONE distinct+count aggregation shuffle (map-side partial on both
    steps) builds the boilerplate key set → ONE anti-join back on the
    fixed-width key (AQE broadcasts the boilerplate set when small,
    else a hash join on md5 keys — both sides pruned to two columns)
    → one per-document regroup to reassemble text. Cost is linear in
    total lines; the boilerplate set is the natural artifact to
    persist when screening incremental batches at 100 TB.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re_escape(delimiter))).alias(
            "pos", "line"
        ),
    ).withColumn("h", F.md5(F.trim("line")))
    boiler = (
        lines.filter(F.trim("line") != "")
        .select(id_col, "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_df)
        .select("h")
    )
    kept = lines.join(boiler, "h", "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            delimiter,
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), _re_escape(delimiter)))
        .cast("long")
        .alias("n_lines"),
    )
    return totals.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_lines",
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def _re_escape(delim: str) -> str:
    """Literal delimiter → Java-regex pattern for ``F.split``."""
    import re

    return re.escape(delim)


def ngram_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Train/eval overlap audit — the standard eval-set
    decontamination check (n-gram collision between a benchmark and
    the training corpus): per eval document, the fraction of its
    DISTINCT k-word shingles that appear ANYWHERE in the training
    corpus.

    Output: ``(id_col, n_shingles, n_overlap, contamination)`` with
    ``contamination = round(n_overlap / n_shingles, 4)``; every eval
    doc appears (0.0 when clean).

    Scale shape: the train side reduces to its DISTINCT shingle-hash
    set (one shuffle, md5 keys — fixed-width and portable to the SQL
    oracle); eval shingles LEFT-SEMI join that set per shingle and
    aggregate per doc. No all-pairs anything — cost is
    O(train shingles + eval shingles), and the train-side distinct
    set is the natural thing to pre-materialize (or replace with a
    bloom filter for an approximate pre-pass) when screening many
    benchmarks against one 100 TB corpus.
    """
    sh_t = word_shingles(F.col(text_col), k)
    t = (
        train.select(F.explode(sh_t).alias("sh"))
        .select(F.md5("sh").alias("h"))
        .distinct()
    )
    sh_e = F.array_distinct(word_shingles(F.col(text_col), k))
    e = eval_docs.select(F.col(id_col), F.explode(sh_e).alias("sh"))
    e = e.select(id_col, F.md5("sh").alias("h"))
    hits = (
        e.join(t, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    totals = eval_docs.select(
        F.col(id_col), F.size(sh_e).alias("n_shingles")
    )
    return totals.join(hits, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        F.round(
            F.coalesce("n_overlap", F.lit(0))
            / F.col("n_shingles").cast("double"),
            4,
        ).alias("contamination"),
    )
