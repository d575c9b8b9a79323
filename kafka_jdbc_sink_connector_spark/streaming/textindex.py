"""Incrementally-maintained inverted text index: a searchable
``(term, doc_id)`` posting table over an upstream document table,
kept current per upstream commit — the third maintained-view shape
after the row mirror (:class:`.cascade.CascadeRunner`) and the
aggregate view (:class:`.aggview.AggViewRunner`).

Rebuilding a search index per batch rescans the corpus; maintaining
it needs BOTH images of every change: a document update must retract
the OLD text's postings and insert the new ones, and a delete must
retract by the pre-image (the post-image of a hard delete doesn't
exist). That is exactly what the feed's Delta-CDF pre-image rows
carry (:func:`..lake.changes.table_changes` ``include_preimages=
True``), so maintenance is a pure event translation:

* pre-image rows (``delete`` / ``update_preimage``) → one DELETE
  event per distinct term of the old text;
* post-image rows (``insert`` / ``update_postimage``) → one UPSERT
  event per distinct term of the new text;
* a term present in both images of one document collapses inside the
  engine's own batch semantics: the delete is stamped at offset 0 and
  the upsert at offset 1, and the collapse rule (earliest delete
  AFTER the latest upsert wins) keeps the posting alive — no special
  casing here.

The posting table is an ordinary lake table written through
:class:`..apply.CdcApplier` with pk ``(term, doc_id)``, BUCKETED BY
TERM — a term lookup bucket-prunes to one bucket however many
documents are indexed, and the per-sync cost follows the changed
documents' term counts, never the corpus. Exactly-once per upstream
version rides the same watermark as the other maintained views.
Because it is an ordinary lake table, the standard tooling applies:
``set_props({"bloom.cols": ["term"]})`` adds per-file bloom filters
so point lookups also skip non-matching files WITHIN the probed
bucket, and ``maintenance.plan`` keeps its file counts healthy.

Reference anchor: the reference stops at row delivery
(``JdbcSinkTask.put``); derived search structures are lake-native
downstream machinery built from the engine's feed + apply halves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.lake.changes import (
    CHANGE_TYPE,
    table_changes,
)
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable
from kafka_jdbc_sink_connector_spark.streaming.cascade import ViewSync


def default_tokenizer(text: Column) -> Column:
    """Distinct lowercase word terms (letters+digits runs) — an array
    column; deterministic and portable to the SQL oracle."""
    return F.array_distinct(
        F.filter(
            F.split(F.lower(text), "[^a-z0-9]+"),
            lambda t: t != "",
        )
    )


def _term_buckets(
    spark: SparkSession, table: LakeTable, terms: list[str]
) -> list[int]:
    """The bucket ids the probe terms hash to, computed with the
    writer's own bucket expression over a tiny literal frame."""
    from kafka_jdbc_sink_connector_spark.functions.keys import (
        bucket_expr,
    )

    lits = spark.createDataFrame([(x,) for x in terms], "term string")
    return sorted(
        r["b"]
        for r in lits.select(
            bucket_expr(table.snapshot.bucket_key,
                        table.snapshot.n_buckets).alias("b")
        ).distinct().collect()
    )


def search_postings(
    spark: SparkSession,
    table: LakeTable,
    terms: list[str],
    mode: str = "any",
    id_col: str | None = None,
) -> DataFrame:
    """Term lookup over any ``(term, id)`` posting lake table —
    shared by :meth:`TextIndexRunner.lookup` and the CLI ``search``
    command so both get the same pruning: manifest-level to the
    buckets the probe terms hash to (computed with the writer's own
    bucket expression), then file-level via the term predicate
    against footer stats/blooms. ``any`` = OR, ``all`` = AND."""
    if mode not in ("any", "all"):
        raise ValueError("mode must be any|all")
    terms = [t for t in terms if t]
    if not terms:
        raise ValueError("terms must be a non-empty list")
    if id_col is None:
        others = [f for f in table.snapshot.key_fields if f != "term"]
        if len(others) != 1:
            raise ValueError(
                f"cannot infer id column from key fields "
                f"{table.snapshot.key_fields}; pass id_col"
            )
        id_col = others[0]
    # manifest-level pruning only applies when the table is actually
    # bucketed BY TERM (a posting table keyed (id, term) buckets on
    # the id — probing term hashes there would read wrong buckets,
    # and evaluating bucket_expr(id_col) over a term-only literal
    # frame would just crash); such tables still get the file-level
    # term predicate
    probe_buckets = (
        _term_buckets(spark, table, terms)
        if table.snapshot.bucket_key == "term"
        else None
    )
    where = (
        [("term", "in", terms)]
        if len(terms) > 1
        else [("term", "=", terms[0])]
    )
    hits = table.read(buckets=probe_buckets, where=where).select(
        "term", id_col
    )
    if mode == "any":
        return hits.select(id_col).distinct()
    return (
        hits.groupBy(id_col)
        .agg(F.count_distinct("term").alias("__nt"))
        .filter(F.col("__nt") == len(set(terms)))
        .select(id_col)
    )


class TextIndexRunner(ViewSync):
    """One maintained inverted index.

    Parameters
    ----------
    applier:
        Downstream :class:`CdcApplier` for the posting table; its
        config must have ``pk_fields=("term", <id_col>)`` (and a
        ``bucket_key`` of ``term`` comes from the table's creation —
        the first pk field is the default bucket key).
    tokenizer:
        ``Column -> Column`` producing an ARRAY of terms from the
        text column (default: distinct lowercase word runs). Must be
        deterministic — retraction recomputes the OLD text's terms,
        so a nondeterministic tokenizer would strand postings.
    """

    _kind = "textindex"
    # postings()/search_postings() do not filter soft-delete markers:
    # soft-deleted postings would keep appearing as live hits
    _hard_deletes = (
        "posting-table",
        "retracted postings must be removed, not soft-marked",
    )
    _refreshable = False

    def __init__(
        self,
        spark: SparkSession,
        upstream_path: str,
        applier: CdcApplier,
        id_col: str = "doc_id",
        text_col: str = "text",
        tokenizer=None,
        source_id: str | None = None,
    ):
        if list(applier.cfg.pk_fields) != ["term", id_col]:
            raise ValueError(
                f"posting-table pk must be ('term', {id_col!r}), got "
                f"{list(applier.cfg.pk_fields)}"
            )
        super().__init__(spark, upstream_path, applier, source_id)
        self.id_col = id_col
        self.text_col = text_col
        self.tokenizer = tokenizer or default_tokenizer

    def _events(self, mode: str, up: LakeTable, w: int) -> DataFrame:
        if mode == "bootstrap":
            # unpersisted: corpus x terms sized
            return self._postings(up.read(), delete=False)
        feed = table_changes(up, w, include_preimages=True)
        ct = F.col(CHANGE_TYPE)
        pre = feed.filter(ct.isin("delete", "update_preimage"))
        post = feed.filter(ct.isin("insert", "update_postimage"))
        # change-window-bounded computed pipeline (feed resolution +
        # tokenize/explode); _postings projects the feed meta away
        return self._checkpoint(
            self._postings(pre, True).unionByName(self._postings(post, False))
        )

    def _postings(self, rows: DataFrame, delete: bool) -> DataFrame:
        terms = rows.select(
            F.explode(self.tokenizer(F.col(self.text_col))).alias("term"),
            self.id_col,
        )
        # offset 0 for retractions, 1 for insertions — the collapse
        # orders within a key only: a term in both images of one
        # document sees delete@0 then upsert@1, and "earliest delete
        # AFTER the latest upsert" keeps the posting alive
        return self._stamp(self._op(terms, delete), ["term", self.id_col],
                           offset=0 if delete else 1)

    # -- queries -------------------------------------------------------

    def postings(self) -> DataFrame:
        return self.applier.read_target().select("term", self.id_col)

    def lookup(self, terms: list[str], mode: str = "any") -> DataFrame:
        """Documents matching ``terms``: ``any`` (OR) or ``all``
        (AND). See :func:`search_postings` — manifest-level bucket
        pruning plus the file-level term predicate, so a lookup reads
        ~one bucket's matching files per probe term regardless of
        corpus size."""
        t = self.applier.table()
        if t is None:
            raise FileNotFoundError(self.applier.table_path)
        return search_postings(
            self.spark, t, list(terms), mode=mode, id_col=self.id_col
        )
