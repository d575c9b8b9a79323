"""Streaming near-duplicate detection: a persisted dedup index
(:class:`~..operators.incremental.MinHashDedupIndex` or
:class:`~..operators.incremental.EmbeddingDedupIndex`) driven by the
same managed ``foreachBatch`` shell as the CDC runner.

This is the composition the two suites were built for: documents
arrive as a stream, each micro-batch is deduped against everything
already indexed (broadcast-probe — the unboundedly growing index is
never shuffled), the batch's signatures join the index, and the
emitted duplicate evidence lands in a second lake table — all with
the CDC runner's bounded retry and exactly-once replay semantics.
:class:`PairDedupStreamRunner` holds the whole batch body once;
:class:`DedupStreamRunner` (MinHash, ``doc_a``/``doc_b`` pairs scored
by ``n_bands_shared``) and :class:`EmbDedupStreamRunner` (embeddings,
``id_a``/``id_b`` pairs scored by ``cos_sim``) only name their
columns.

Exactly-once across TWO tables (index + pairs) without a cross-table
transaction: both commits carry the ``(source_id, batch_id)``
watermark, and the batch's dup pairs are a DETERMINISTIC function of
(batch, index-before-this-batch) — ``add_and_find_dups`` binds its
plan to the pre-append snapshot and anti-joins the batch's own ids
out of the index side, so a replay recomputes byte-identical pairs
no matter which of the two appends already committed. The crash
windows (mirroring ``tests/test_crash_sweep.py`` for the CDC side):

* crash before the index append — replay redoes both appends once;
* crash between index append and pairs append — replay recomputes
  the same pairs (the anti-join hides the batch's now-indexed
  signatures), skips the index append on its watermark, and lands
  the pairs append;
* crash after both — replay recomputes, skips both appends.

Duplicate verdicts: each pair row records ``drop_doc`` — the later
arrival loses. For batch-vs-index pairs that is the batch document
(the index side was committed by an earlier batch); for within-batch
pairs the larger doc id loses (deterministic, matching
``docdedup.exact_dedup``'s keep-lowest-id canonicalization). A
downstream keep-list is ``docs LEFT ANTI JOIN pairs ON doc_id =
drop_doc`` — batch-sized per micro-batch, never corpus-sized.

Reference anchor: the reference's task lifecycle
(``JdbcAuditSinkTask.java:60-120`` — put → buffered flush → bounded
retry → offset commit) is what :meth:`PairDedupStreamRunner.process_batch`
mirrors, with "the target database remembers what was written"
replaced by the index table's batch-id watermark. The batch body has
no single owning applier config, so it retries on the runner module's
:data:`~..streaming.runner.RETRIES` x
:data:`~..streaming.runner.RETRY_BACKOFF_S` budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.lake.table import LakeTable
from kafka_jdbc_sink_connector_spark.operators.incremental import (
    MinHashDedupIndex,
)
from kafka_jdbc_sink_connector_spark.streaming.runner import (
    RETRIES,
    RETRY_BACKOFF_S,
    ForeachBatchRunner,
    free_checkpoints,
    retrying,
)


class PairDedupStreamRunner(ForeachBatchRunner):
    """Drives a record stream through an incremental dedup index.

    Per micro-batch: probe + self-join via the index's
    ``add_and_find_dups`` (which also appends the batch's signatures,
    watermarked), mark each pair's losing record, and append the
    evidence to ``pairs_table`` under the same ``(source_id,
    batch_id)`` watermark.

    ``record_parser`` mirrors :class:`..streaming.runner.CdcStreamRunner`:
    an optional ``DataFrame → DataFrame`` hook run inside the retried
    batch body before dedup (decode/normalize lives there); each
    attempt checkpoints its output once and frees it on exit.

    Subclasses name the pair columns, the score column and its type,
    and the keyword the index takes its payload column under.
    """

    pair_cols: tuple[str, str]
    score_col: str
    score_type: T.DataType
    payload_kw: str

    def __init__(
        self,
        index,
        pairs_table: LakeTable,
        checkpoint_dir: str,
        source_id: str,
        id_col: str,
        payload_col: str,
        record_parser=None,
    ):
        super().__init__(checkpoint_dir, source_id, record_parser)
        self.index = index
        self.pairs_table = pairs_table
        self.id_col = id_col
        self.payload_col = payload_col
        #: per-batch (batch_id, n_docs, n_pairs, skipped) telemetry
        self.results: list[tuple[int, int, int, bool]] = []

    @classmethod
    def create_pairs_table(
        cls,
        spark,
        path: str,
        n_buckets: int = 16,
        id_type: T.DataType = T.LongType(),
    ) -> LakeTable:
        """The evidence table: bucketed on the first pair column so
        per-record dup lookups bucket-prune; append-only (pairs are
        immutable facts about an arrival order)."""
        a, b = cls.pair_cols
        schema = T.StructType(
            [
                T.StructField(a, id_type, True),
                T.StructField(b, id_type, True),
                T.StructField(cls.score_col, cls.score_type, True),
                T.StructField("drop_doc", id_type, True),
                T.StructField("batch_id", T.LongType(), True),
            ]
        )
        return LakeTable.create(
            spark,
            path,
            schema,
            n_buckets=n_buckets,
            key_fields=[a, b],
            bucket_key=a,
        )

    # foreachBatch body — public so tests can drive it directly;
    # returns the batch's ``results`` entry
    def process_batch(self, batch_df: DataFrame, batch_id: int):
        return retrying(
            lambda: self._process_once(batch_df, batch_id),
            RETRIES + 1,
            RETRY_BACKOFF_S,
        )

    def _process_once(self, batch_df: DataFrame, batch_id: int):
        with self.materialized(self.parse(batch_df)) as parsed:
            return self._dedup(parsed, batch_id)

    def _dedup(self, parsed: DataFrame, batch_id: int):
        a, b = self.pair_cols
        # the batch id set is reused twice (loser marking) and is
        # micro-batch-sized — broadcast both uses
        batch_ids = (
            parsed.select(F.col(self.id_col).alias("__bid")).distinct()
        )
        pairs = self.index.add_and_find_dups(
            parsed,
            id_col=self.id_col,
            source_id=self.source_id,
            batch_id=batch_id,
            **{self.payload_kw: self.payload_col},
        )
        # loser per pair: a batch-vs-index pair drops the batch record
        # (the index side arrived first); a within-batch pair drops
        # the larger id (both are new; matches exact_dedup's
        # keep-lowest-id rule). Exactly one side of every pair is
        # guaranteed in the batch, so `a_new OR b_new` always holds.
        a_new = batch_ids.select(
            F.col("__bid").alias(a), F.lit(True).alias("__a_new")
        )
        b_new = batch_ids.select(
            F.col("__bid").alias(b), F.lit(True).alias("__b_new")
        )
        marked = (
            pairs.join(F.broadcast(a_new), a, "left")
            .join(F.broadcast(b_new), b, "left")
            .select(
                a,
                b,
                self.score_col,
                F.when(
                    F.coalesce(F.col("__a_new"), F.lit(False))
                    & F.coalesce(F.col("__b_new"), F.lit(False)),
                    F.greatest(a, b),
                )
                .when(
                    F.coalesce(F.col("__a_new"), F.lit(False)),
                    F.col(a),
                )
                .otherwise(F.col(b))
                .alias("drop_doc"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
        )
        pt = self.pairs_table.refresh()
        skipped = batch_id <= pt.applied_batch(self.source_id)
        if skipped:
            # replay past a completed pairs append: evidence already
            # committed; recomputation above was needed only to keep
            # the index append decision identical
            n_pairs = 0
        else:
            # count + append in one pass over a batch-sized frame
            rows = marked.localCheckpoint(eager=True)
            try:
                n_pairs = rows.count()
                pt.commit_append(
                    pt.with_bucket(rows),
                    source_id=self.source_id,
                    batch_id=batch_id,
                )
            finally:
                free_checkpoints([rows])
        n_docs = batch_ids.count()
        self.results.append((batch_id, n_docs, n_pairs, skipped))
        return self.results[-1]

    def dup_doc_ids(self) -> DataFrame:
        """Distinct records that lost at least one pair — the
        corpus-wide drop list (LEFT ANTI this against the corpus for
        the keep list)."""
        return (
            self.pairs_table.refresh().read().select("drop_doc").distinct()
        )


class DedupStreamRunner(PairDedupStreamRunner):
    """MinHash-LSH streaming dedup over
    :class:`~..operators.incremental.MinHashDedupIndex`: pairs
    ``(doc_a, doc_b, n_bands_shared)``."""

    pair_cols = ("doc_a", "doc_b")
    score_col = "n_bands_shared"
    score_type = T.LongType()
    payload_kw = "text_col"

    def __init__(
        self,
        index: MinHashDedupIndex,
        pairs_table: LakeTable,
        checkpoint_dir: str,
        source_id: str = "dedup-stream",
        id_col: str = "doc_id",
        text_col: str = "text",
        record_parser=None,
    ):
        super().__init__(index, pairs_table, checkpoint_dir, source_id,
                         id_col, text_col, record_parser)


class EmbDedupStreamRunner(PairDedupStreamRunner):
    """The semantic (embedding) sibling of :class:`DedupStreamRunner`
    over :class:`~..operators.incremental.EmbeddingDedupIndex`: pairs
    ``(id_a, id_b, cos_sim)``, cosine-verified, with the identical
    exactly-once-across-two-tables contract and loser rule."""

    pair_cols = ("id_a", "id_b")
    score_col = "cos_sim"
    score_type = T.DoubleType()
    payload_kw = "vec_col"

    def __init__(
        self,
        index,
        pairs_table: LakeTable,
        checkpoint_dir: str,
        source_id: str = "emb-dedup-stream",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        record_parser=None,
    ):
        super().__init__(index, pairs_table, checkpoint_dir, source_id,
                         id_col, vec_col, record_parser)
