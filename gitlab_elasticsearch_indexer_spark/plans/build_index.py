"""End-to-end index build job (reference entry point 1: main.go → IndexBlobs,
SURVEY.md §3.1, re-expressed as one Spark batch job).

Pipeline (two scans, exactly ONE wide exchange over the big data):

1. pages → docs table write   ONE pass runs every expensive narrow op once:
                              Arrow-UDF transcode + JVM tokenize-for-dl;
                              parquet docs table (content + dl) is the
                              handoff — cheaper than caching token arrays
                              (measured: persisting 65M token strings cost
                              more than one extra codegen'd split pass)
2. collection stats           tiny column-pruned agg over docs.dl (N, avgdl)
3. docs parquet → occurrences re-read (UDFs NOT re-run — content comes from
                              parquet), explode → repartition(term,
                              docid_range) → sorted partition kernel
                              (operators/postings.py) → write
                              partitionBy(bucket)
   + lineage                  one LINEAGE row per docid_range, written
                              after its batch's segments
4. commit                     ``commit`` — the one commit path of build,
                              apply_delta and compact, in order: the '-'
                              lineage row of a snapshot that claims no
                              range, catalog.json, term_stats (aggregated
                              from segment *metadata*: a column-pruned read,
                              no posting bytes), then the atomic ``current``
                              pointer flip (commit barrier, K4)

Checkpointed resume (north rule, O1/O7): ``resume=True`` skips docid_ranges
an interrupted snapshot's lineage already claims and appends only the
remainder.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ANALYZER_SIMPLE, BLOCK_SIZE, DOCS_PER_RANGE, N_TERM_BUCKETS
from ..functions.analysis import ANALYZER_VERSIONS
from ..operators.docs import build_docs
from ..operators.postings import build_segments, term_stats_from_segments
from ..operators.tokenize import tokens_expr
from ..schemas import LINEAGE, SEGMENTS
from ..sources import catalog as cat


FIELD_SEP = "\x1f"  # namespaces non-default fields' terms (Lucene field:term)


def write_segments(segments: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write block rows ``partitionBy(bucket)``, clustered by bucket first:
    without the repartition every write task emits a file per bucket
    directory (tasks × 64 small files) and the driver's serial
    commit/rename phase dominates small-core runs.  The partition count is
    explicit, so AQE cannot coalesce the write into one task: creating a
    file costs ~19 ms when Hadoop forks ``chmod`` for its permissions (no
    native libhadoop), so the 64 bucket files are spread over the cores."""
    n = min(N_TERM_BUCKETS, segments.sparkSession.sparkContext.defaultParallelism)
    segments.repartition(n, "bucket").write.mode(mode).partitionBy("bucket").parquet(path)


def lineage_rows(
    claims: DataFrame, base: str | None, snapshot: str, wall_ms: int = 0
) -> DataFrame:
    """LINEAGE rows: ``snapshot`` claims each ``claims.docid_range``,
    derived from snapshot ``base`` (None for a build).  ``claims`` may
    carry per-range ``n_docs``/``n_tokens`` (a build's range stats); absent
    columns are written 0."""

    def count(c: str):
        return (F.col(c) if c in claims.columns else F.lit(0)).cast("long").alias(c)

    return claims.select(
        F.col("docid_range").cast("string").alias("partition_key"),
        F.lit(base).cast("string").alias("from_snapshot"),
        F.lit(snapshot).alias("to_snapshot"),
        count("n_docs"),
        count("n_tokens"),
        F.lit("done").alias("status"),
        F.lit(wall_ms).cast("long").alias("wall_ms"),
    )


def commit(
    spark: SparkSession,
    index_dir: str,
    catalog: cat.Catalog,
    claims_nothing: bool,
    base: str | None = None,
) -> cat.Catalog:
    """Commit a snapshot whose docs, segments and range lineage are
    written: the one commit path of ``build_index``, ``apply_delta`` and
    ``compact``.  In order:

    1. a snapshot that claims no docid_range gets the one-row ``'-'``
       lineage (from ``base``, as ``lineage_rows``), so its lineage table
       exists for chain resolution and resume;
    2. ``catalog.json``;
    3. ``term_stats`` from the snapshot's logical segments — block metadata
       only; ``read_table`` resolves a chained snapshot through the catalog
       and lineage written above.  A snapshot without block rows (an empty
       build, a delta that only deletes or changes nothing) first gets one
       empty segments file carrying the schema: a partitioned write of no
       rows leaves no file that Spark or pyarrow could read;
    4. the ``current`` flip, the commit barrier: a failure in any earlier
       step leaves readers on the previous snapshot, and a re-run commits."""
    sd = cat.snapshot_dir(index_dir, catalog.snapshot)
    if claims_nothing:
        spark.createDataFrame(
            [("-", base, catalog.snapshot, 0, 0, "done", 0)], LINEAGE
        ).coalesce(1).write.mode("overwrite").parquet(f"{sd}/lineage")
    cat.write_catalog(index_dir, catalog)
    if not any(n.startswith("bucket=") for n in os.listdir(f"{sd}/segments")):
        spark.createDataFrame([], SEGMENTS).write.mode("overwrite").parquet(
            f"{sd}/segments"
        )
    segments = cat.read_table(spark, index_dir, "segments", catalog.snapshot)
    term_stats_from_segments(segments, catalog.n_docs).write.mode(
        "overwrite"
    ).parquet(f"{sd}/term_stats")
    cat.commit_snapshot(index_dir, catalog.snapshot)
    return catalog


def field_occurrences(
    docs: DataFrame,
    analyzer: str,
    with_positions: bool = False,
    extra_fields: dict[str, str] | None = None,
    with_offsets: bool = False,
    stored_tokens: bool = False,
) -> DataFrame:
    """docs (with dl + dl_<field> columns) → token occurrences
    (docid, dl, term [, pos [, start, end]]) for the content field plus
    every extra field, extra-field terms namespaced ``<field>\\x1f<token>``.

    Shared by the full build and incremental range rebuilds so both produce
    byte-identical segments for the same doc set (a rebuild that dropped
    positions or field occurrences would corrupt the index contract).

    ``stored_tokens``: read pre-analyzed ``toks`` / ``toks_<field>`` array
    columns instead of re-running the analyzer chains — the full build
    materializes tokens ONCE (transient ``tokens_tmp`` table) so Python
    analysis doesn't run twice per corpus (once for dl, once here); see
    ``build_index``.  Token arrays are identical either way (same
    ``tokens_expr``), so segments stay byte-identical.

    ``with_offsets`` (index_options=offsets, elastic/index.go:208-218)
    implies positions and is scoped to the content field — extra fields are
    rejected to keep the occurrence schema uniform."""
    extra_fields = extra_fields or {}
    if with_offsets:
        if extra_fields:
            raise ValueError("with_offsets supports the content field only")
        from ..functions.udfs import offsets_occurrences

        return offsets_occurrences(docs, analyzer)
    toks = F.col("toks") if stored_tokens else tokens_expr(analyzer)
    if with_positions:
        occ = docs.select("docid", "dl", F.posexplode(toks).alias("pos", "term"))
    else:
        occ = docs.select("docid", "dl", F.explode(toks).alias("term"))
    for fld, fld_an in extra_fields.items():
        fld_toks = (
            F.col(f"toks_{fld}")
            if stored_tokens
            else tokens_expr(fld_an, text_col=fld)
        )
        if with_positions:
            fld_occ = docs.select(
                "docid",
                F.col(f"dl_{fld}").alias("dl"),
                F.posexplode(fld_toks).alias("pos", "raw_term"),
            )
        else:
            fld_occ = docs.select(
                "docid",
                F.col(f"dl_{fld}").alias("dl"),
                F.explode(fld_toks).alias("raw_term"),
            )
        fld_occ = fld_occ.withColumn(
            "term", F.concat(F.lit(fld + FIELD_SEP), F.col("raw_term"))
        ).drop("raw_term")
        occ = occ.unionByName(fld_occ.select(*occ.columns))
    return occ


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    analyzer: str = ANALYZER_SIMPLE,
    project_id: int = 1,
    with_positions: bool = False,
    snapshot: str = "s1",
    resume: bool = False,
    docid_col: str = "doc_id",
    extra_fields: dict[str, str] | None = None,
    range_batches: int = 1,
    with_offsets: bool = False,
    detect_lang: bool = False,
    with_prog_lang: bool = False,
    _fail_after_batches: int | None = None,
) -> cat.Catalog:
    """``extra_fields``: additional doc columns to index, column → analyzer —
    the reference's per-field analyzers (blob.path → path_analyzer,
    blob.file_name → code_analyzer, elastic/index.go:115-146).  Their terms
    are namespaced ``<field>\\x1f<token>`` in the shared segments table, with
    per-field dl/avgdl for correct per-field BM25."""
    t0 = time.time()
    extra_fields = extra_fields or {}
    if with_offsets:
        with_positions = True  # Lucene: the offsets option includes positions
    # Tokenize-once: Python-backed chains (everything but 'simple' — the
    # default chain is UAX#29 + KStem inside one Arrow UDF) are the dominant
    # CPU cost of a build; running the UDF twice per corpus (once for dl at
    # docs-write, once for occurrences) doubles it.  For those chains the
    # token arrays are materialized ONCE into a transient tokens_tmp table,
    # dl is derived JVM-side (F.size) from the stored arrays, and the
    # occurrence pass reads the arrays — a column-pruned scan that never
    # touches `content` again.  The 'simple' chain stays on the re-analyze
    # path: its codegen'd split is cheaper than the extra array IO
    # (measured — see module docstring).  Offsets builds also re-analyze:
    # offsets need the original string.
    use_stored = analyzer != ANALYZER_SIMPLE and not with_offsets
    docs_src = build_docs(
        pages,
        project_id=project_id,
        docid_col=docid_col,
        detect_lang=detect_lang,
        with_prog_lang=with_prog_lang,
    )
    sd = cat.snapshot_dir(index_dir, snapshot)
    tok_cols: list[str] = []
    if use_stored:
        # one Arrow-UDF evaluation per chain per row, guaranteed
        # structurally: toks is written WITHOUT dl, dl is F.size(toks) on
        # the parquet re-read (no risk of Catalyst duplicating the UDF
        # through a collapsed projection)
        docs_src = docs_src.withColumn("toks", tokens_expr(analyzer))
        tok_cols.append("toks")
        for fld, fld_an in extra_fields.items():
            docs_src = docs_src.withColumn(
                f"toks_{fld}", tokens_expr(fld_an, text_col=fld)
            )
            tok_cols.append(f"toks_{fld}")
    else:
        docs_src = docs_src.withColumn(
            "dl", F.size(tokens_expr(analyzer)).cast("int")
        )
        for fld, fld_an in extra_fields.items():
            docs_src = docs_src.withColumn(
                f"dl_{fld}", F.size(tokens_expr(fld_an, text_col=fld)).cast("int")
            )

    range_expr = (F.col("docid") / F.lit(DOCS_PER_RANGE)).cast("long")

    # done ranges stay a DATAFRAME — at 10^12 docs the lineage has ~1.2e8
    # rows; they are joined, never collected to the driver
    done_df: DataFrame | None = None
    if resume:
        try:
            done_df = cat.claimed_ranges(spark, index_dir, snapshot).cache()
            if done_df.limit(1).count() == 0:
                done_df.unpersist()
                done_df = None
        except Exception:
            done_df = None

    if use_stored:
        docs_src.write.mode("overwrite").parquet(f"{sd}/tokens_tmp")
        tdf = spark.read.parquet(f"{sd}/tokens_tmp").withColumn(
            "dl", F.size("toks").cast("int")
        )
        for fld in extra_fields:
            tdf = tdf.withColumn(f"dl_{fld}", F.size(f"toks_{fld}").cast("int"))
        # serving docs table = columnar copy minus the token arrays (content
        # passes through untouched; the tokenizer UDF does NOT re-run)
        tdf.drop(*tok_cols).write.mode("overwrite").parquet(f"{sd}/docs")
        docs = spark.read.parquet(f"{sd}/docs")
        # occurrence source: the stored arrays — column pruning drops
        # `content` entirely from the posting-build scan
        occ_docs = tdf.drop("content")
    else:
        docs_src.write.mode("overwrite").parquet(f"{sd}/docs")
        # all later passes read the parquet: Arrow UDFs ran exactly once
        docs = spark.read.parquet(f"{sd}/docs")
        occ_docs = docs

    # collection stats: ONE scalar aggregate — the only thing the driver
    # ever holds (column-pruned scan of dl columns)
    agg_row = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("n_tokens"),
        F.max("dl").cast("long").alias("max_dl"),
        *[
            F.sum(f"dl_{fld}").cast("long").alias(f"n_tokens_{fld}")
            for fld in extra_fields
        ],
        *[
            F.max(f"dl_{fld}").cast("long").alias(f"max_dl_{fld}")
            for fld in extra_fields
        ],
    ).collect()[0]
    n_docs = int(agg_row["n_docs"])
    total_tokens = int(agg_row["n_tokens"] or 0)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    # dl saturation check (free — same scalar agg): the packed shuffle row
    # keeps dl in DL_BITS bits, exact for ≤1-token-per-char chains under the
    # 1 MiB cap, but token-EXPANDING chains (ngram ~2×/char, code
    # edge-ngrams up to ~39×/word) can exceed it; pack_docid_dl then clamps
    # and the segments' min_dl block stats are computed from the
    # understated dl (bounds stay VALID — looser — and exact scores always
    # use docs.dl).  Surface it instead of clamping silently.
    from ..operators.postings import _DL_MASK

    _max_dls = {analyzer: int(agg_row["max_dl"] or 0)}
    for fld, fld_an in extra_fields.items():
        _max_dls[fld_an] = max(
            _max_dls.get(fld_an, 0), int(agg_row[f"max_dl_{fld}"] or 0)
        )
    for an, mdl in _max_dls.items():
        if mdl > _DL_MASK:
            import warnings

            warnings.warn(
                f"analyzer {an!r} produced a document of {mdl} tokens "
                f"(> 2^{_DL_MASK.bit_length()} - 1); packed dl saturates, so "
                "block min_dl stats are conservative for such docs "
                "(scores stay exact via docs.dl)"
            )
    field_meta = {
        fld: {
            "analyzer": fld_an,
            "dl_col": f"dl_{fld}",
            "avgdl": (
                int(agg_row[f"n_tokens_{fld}"] or 0) / n_docs if n_docs else 0.0
            ),
            # exact integer total so incremental merges can update field
            # avgdl arithmetically without float drift
            "total": int(agg_row[f"n_tokens_{fld}"] or 0),
            # per-field analyzer implementation version: extra fields are
            # analyzed at query time too, so the search-time guard must
            # check EVERY chain the index was built with, not only the
            # content field's (a code/path chain change would otherwise
            # silently mismatch)
            "analyzer_version": ANALYZER_VERSIONS.get(fld_an),
        }
        for fld, fld_an in extra_fields.items()
    }

    # per-range metrics as a DataFrame (the future lineage rows)
    range_stats = docs.groupBy(range_expr.alias("docid_range")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("n_tokens"),
    )

    def occurrences_for(batch_docs: DataFrame) -> DataFrame:
        return field_occurrences(
            batch_docs, analyzer, with_positions, extra_fields, with_offsets,
            stored_tokens=use_stored,
        )

    # Checkpointed, batched segment build (north rule O1/O7): docid_ranges
    # are assigned to ``range_batches`` deterministic batches (rng mod B) and
    # processed as sequential commits, each appending its segment rows and
    # then its lineage "done" rows — so a crash resumes at batch granularity
    # with resume=True.  The snapshot pointer flips only after everything,
    # so readers never see a partial index either way.
    if done_df is not None and os.path.exists(f"{sd}/segments"):
        # A crash can land between a batch's segment append and its lineage
        # mark; blindly re-appending would duplicate that batch's postings.
        # Truth is the lineage: compact segments down to lineage-confirmed
        # ranges (a distributed semi-join — no range list on the driver)
        # before resuming.  (On Iceberg this whole step is a metadata-only
        # DELETE WHERE docid_range NOT IN done.)
        has_pending = (
            range_stats.join(done_df, "docid_range", "left_anti").limit(1).count()
            > 0
        )
        if has_pending:
            keep = spark.read.parquet(f"{sd}/segments").join(
                done_df, "docid_range", "left_semi"
            )
            write_segments(keep, f"{sd}/segments_compact")
            shutil.rmtree(f"{sd}/segments")
            os.rename(f"{sd}/segments_compact", f"{sd}/segments")

    n_batches = max(1, range_batches)
    # exact occurrence count (content + extra-field tokens) — sizes the
    # posting exchange so per-task sorts stay in memory (operators/postings
    # OCC_ROWS_PER_PARTITION); per-batch share since each batch is its own
    # exchange
    _est_occ_total = total_tokens + sum(
        int(agg_row[f"n_tokens_{fld}"] or 0) for fld in extra_fields
    )
    est_occ_per_batch = _est_occ_total // n_batches if _est_occ_total else None
    # Batched builds: an even split of the total can undersize a skewed
    # batch (rng-mod-B skew, or resume excluding done ranges from the work
    # but not the estimate) and reintroduce the sort spill the sizing
    # exists to prevent.  Derive EXACT per-batch content-token totals from
    # range_stats (one extra dl-pruned scan, B bounded rows collected),
    # scaled by the extra-field share, so each batch's exchange is sized
    # for the rows it actually carries.
    batch_occ: dict[int, int] = {}
    if _est_occ_total and n_batches > 1:
        _stats_src = (
            range_stats.join(done_df, "docid_range", "left_anti")
            if done_df is not None
            else range_stats
        )
        _scale = _est_occ_total / total_tokens if total_tokens else 1.0
        for row in (
            _stats_src.groupBy(
                F.pmod(F.col("docid_range"), F.lit(n_batches)).alias("b")
            )
            .agg(F.sum("n_tokens").alias("t"))
            .collect()
        ):
            batch_occ[int(row["b"])] = int((row["t"] or 0) * _scale)
    for i in range(n_batches):
        if done_df is None and n_batches == 1:
            batch_docs, batch_stats = occ_docs, range_stats  # fast path
        else:
            in_batch = F.pmod(range_expr, F.lit(n_batches)) == i
            batch_docs = occ_docs.filter(in_batch)
            batch_stats = range_stats.filter(
                F.pmod(F.col("docid_range"), F.lit(n_batches)) == i
            )
            if done_df is not None:
                batch_docs = batch_docs.join(
                    done_df.select(F.col("docid_range").alias("__done_rng")),
                    range_expr == F.col("__done_rng"),
                    "left_anti",
                )
                batch_stats = batch_stats.join(done_df, "docid_range", "left_anti")
        occ_src = occurrences_for(batch_docs)
        if with_offsets:
            # offsets builds source occurrences from the Python emitter
            # (offsets_occurrences) — build_segments' write scans the stream
            # twice (term dictionary + the exchange), which would run
            # the per-token Python chain twice per corpus.  Stage it to a
            # transient parquet once: both passes become column-pruned
            # columnar scans (the same tokenize-once idea tokens_tmp applies
            # to positions-only Python chains).
            occ_src.write.mode("overwrite").parquet(f"{sd}/occ_tmp")
            occ_src = spark.read.parquet(f"{sd}/occ_tmp")
        segments = build_segments(
            occ_src,
            with_positions=with_positions, with_offsets=with_offsets,
            est_occurrences=batch_occ.get(i, est_occ_per_batch),
        )
        mode = "append" if (done_df is not None or i > 0) else "overwrite"
        write_segments(segments, f"{sd}/segments", mode)
        wall_ms = int((time.time() - t0) * 1000)
        # lineage written distributively from the per-range stats DataFrame
        lineage_rows(batch_stats, None, snapshot, wall_ms).write.mode(mode).parquet(
            f"{sd}/lineage"
        )
        if _fail_after_batches is not None and i + 1 >= _fail_after_batches:
            raise RuntimeError(
                f"injected failure after batch {i + 1}/{n_batches} (test hook)"
            )
    claims_nothing = n_docs == 0 and done_df is None
    if done_df is not None:
        done_df.unpersist()
    if use_stored:
        # all segment + lineage batches are committed; the stored arrays
        # have served their one read (a crash before this point just leaves
        # the tmp dir for the resume run to overwrite)
        shutil.rmtree(f"{sd}/tokens_tmp", ignore_errors=True)
    if with_offsets:
        shutil.rmtree(f"{sd}/occ_tmp", ignore_errors=True)

    catalog = cat.Catalog(
        n_docs=n_docs,
        avgdl=avgdl,
        analyzer=analyzer,
        block_size=BLOCK_SIZE,
        docs_per_range=DOCS_PER_RANGE,
        n_term_buckets=N_TERM_BUCKETS,
        snapshot=snapshot,
        with_positions=with_positions,
        fields=field_meta or None,
        with_offsets=with_offsets,
        total_tokens=total_tokens,
        analyzer_version=ANALYZER_VERSIONS.get(analyzer),
    )
    return commit(spark, index_dir, catalog, claims_nothing)
