"""Index directory layout + catalog / lineage bookkeeping.

On a real cluster these are Iceberg tables (atomic snapshot commits, MERGE
INTO, partition specs — SURVEY.md K1-K7); the Iceberg runtime jar is not in
this sandbox, so the layout is plain partitioned parquet + a JSON catalog
document, with the same commit discipline: writers produce a complete new
snapshot directory and flip the ``current`` pointer last, so readers never
see a partial index (reference analog: Flush commit barrier,
elastic/client.go:199-207).

Layout:

    <index_dir>/
      current                 — file holding the active snapshot name
      <snapshot>/catalog.json — {n_docs, avgdl, analyzer, ...}
      <snapshot>/docs/        — extracted docs + dl (parquet)
      <snapshot>/segments/    — SEGMENTS, partitionBy(bucket)  [term routing]
      <snapshot>/term_stats/  — (term, df, cf, idf)
      <snapshot>/lineage/     — LINEAGE: one row per docid_range the snapshot
                                claims (a build's rows carry per-range
                                n_docs/n_tokens); a snapshot that claims
                                none holds the one row partition_key '-'

Every writer (build_index, apply_delta, compact) commits through
plans/build_index.commit: the '-' lineage row when the snapshot claims no
range, catalog.json, term_stats, then the ``current`` flip.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession

from ..schemas import LINEAGE, SEGMENTS


@dataclass
class Catalog:
    n_docs: int
    avgdl: float
    analyzer: str
    block_size: int
    docs_per_range: int
    n_term_buckets: int
    snapshot: str
    with_positions: bool = False
    # multi-field indexes (reference: per-field analyzers in the mapping,
    # elastic/index.go:115-146): field name → {"analyzer": ..., "avgdl": ...,
    # "dl_col": ...}. The default "content" field uses the top-level
    # analyzer/avgdl and unprefixed terms.
    fields: dict | None = None
    # index_options=offsets (elastic/index.go:208-218): segments carry an
    # offsets_enc payload enabling highlighting
    with_offsets: bool = False
    # Snapshot chaining (Iceberg-style metadata-only copy): a delta snapshot
    # stores ONLY its affected docid_ranges' docs/segments and points at the
    # previous snapshot; readers resolve the chain newest-first, each older
    # snapshot contributing only ranges not claimed by a newer one (claims =
    # the snapshot's lineage partition_keys).  ``chain_depth`` counts hops to
    # the nearest full materialization; apply_delta compacts when it exceeds
    # its max_chain.
    parent_snapshot: str | None = None
    chain_depth: int = 0
    # exact total token count — carried so incremental merges can update
    # n_docs/avgdl arithmetically from delta-sized aggregates
    total_tokens: int | None = None
    # analyzer IMPLEMENTATION version (functions/analysis.ANALYZER_VERSIONS
    # at build time).  Searcher refuses a version mismatch: same analyzer
    # name + different token output = silent wrong results otherwise.
    # None on indexes built before this field existed (the guards let it
    # pass; see analyzer_mismatches).
    analyzer_version: str | None = None

    def analyzer_mismatches(self) -> list[tuple[str, str | None, str | None]]:
        """(analyzer, stored version, current version) for every analyzed
        chain — the content field's and each extra field's — whose stored
        implementation version differs from this code's
        (functions/analysis.ANALYZER_VERSIONS).  The same analyzer name with
        different token output makes query terms miss the stored postings.

        A stored ``None`` (a catalog written before versions were recorded)
        is listed too, so a caller can tell it from a real mismatch: the
        search and delta guards let it pass, a cache that can rebuild
        treats it as stale."""
        from ..functions.analysis import ANALYZER_VERSIONS

        chains = [(self.analyzer, self.analyzer_version)] + [
            (m["analyzer"], m.get("analyzer_version"))
            for m in (self.fields or {}).values()
        ]
        return [
            (an, stored, ANALYZER_VERSIONS.get(an))
            for an, stored in chains
            if stored != ANALYZER_VERSIONS.get(an)
        ]


def snapshot_dir(index_dir: str, snapshot: str) -> str:
    return os.path.join(index_dir, snapshot)


def write_catalog(index_dir: str, cat: Catalog) -> None:
    sd = snapshot_dir(index_dir, cat.snapshot)
    os.makedirs(sd, exist_ok=True)
    with open(os.path.join(sd, "catalog.json"), "w") as f:
        json.dump(asdict(cat), f, indent=2)


def commit_snapshot(index_dir: str, snapshot: str) -> None:
    """Atomic pointer flip — the all-or-nothing commit point (K4)."""
    tmp = os.path.join(index_dir, "current.tmp")
    with open(tmp, "w") as f:
        f.write(snapshot)
    os.replace(tmp, os.path.join(index_dir, "current"))


def current_snapshot(index_dir: str) -> str:
    with open(os.path.join(index_dir, "current")) as f:
        return f.read().strip()


def read_catalog(index_dir: str, snapshot: str | None = None) -> Catalog:
    if snapshot is None:
        snapshot = current_snapshot(index_dir)
    with open(os.path.join(snapshot_dir(index_dir, snapshot), "catalog.json")) as f:
        return Catalog(**json.load(f))


def table_path(index_dir: str, table: str, snapshot: str | None = None) -> str:
    if snapshot is None:
        snapshot = current_snapshot(index_dir)
    return os.path.join(snapshot_dir(index_dir, snapshot), table)


def claimed_ranges(spark: SparkSession, index_dir: str, snapshot: str) -> DataFrame:
    """docid_ranges owned by ``snapshot`` = its lineage partition_keys
    (chain resolution, and the ranges a resumed build skips)."""
    from pyspark.sql import functions as F

    return (
        spark.read.schema(LINEAGE).parquet(table_path(index_dir, "lineage", snapshot))
        .filter(F.col("partition_key") != "-")
        .select(F.col("partition_key").cast("long").alias("docid_range"))
        .distinct()
    )


def chain_claims(index_dir: str, snapshot: str) -> list[tuple[str, list[int]]]:
    """[(snapshot, docid_ranges a newer snapshot claims)] for every snapshot
    of ``snapshot``'s chain, newest first — ``read_table``'s resolution rule
    (claims = lineage partition_keys), evaluated on the driver with pyarrow
    and no Spark job.  Sized by the chain's claimed ranges, so meant for
    indexes small enough to serve in process."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: list[tuple[str, list[int]]] = []
    claimed: set[int] = set()
    snap: str | None = snapshot
    while snap is not None:
        out.append((snap, sorted(claimed)))
        parent = read_catalog(index_dir, snap).parent_snapshot
        if parent is not None:
            keys = pq.read_table(
                table_path(index_dir, "lineage", snap), columns=["partition_key"]
            ).column(0)
            keys = pc.filter(keys, pc.not_equal(keys, "-"))
            claimed.update(pc.cast(keys, "int64").to_pylist())
        snap = parent
    return out


def read_table(
    spark: SparkSession, index_dir: str, table: str, snapshot: str | None = None
) -> DataFrame:
    """Read a snapshot's logical table, resolving the snapshot chain for the
    range-sharded tables (docs, segments): walk newest → oldest, each older
    snapshot contributing only docid_ranges no newer snapshot claims.  All
    set logic is DataFrame joins — nothing corpus-sized on the driver."""
    from pyspark.sql import functions as F

    if snapshot is None:
        snapshot = current_snapshot(index_dir)
    c = read_catalog(index_dir, snapshot)
    reader = spark.read.schema(SEGMENTS) if table == "segments" else spark.read
    if table not in ("docs", "segments") or c.parent_snapshot is None:
        return reader.parquet(table_path(index_dir, table, snapshot))

    range_key = (
        F.col("docid_range")
        if table == "segments"
        else (F.col("docid") / F.lit(c.docs_per_range)).cast("long")
    )
    out: DataFrame | None = None
    claimed: DataFrame | None = None
    snap: str | None = snapshot
    while snap is not None:
        sc = read_catalog(index_dir, snap)
        df = reader.parquet(table_path(index_dir, table, snap))
        if claimed is not None:
            df = df.join(
                claimed.withColumnRenamed("docid_range", "__claimed_rng"),
                range_key == F.col("__claimed_rng"),
                "left_anti",
            )
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        if sc.parent_snapshot is not None:  # the oldest snapshot's claims shadow nothing
            mine = claimed_ranges(spark, index_dir, snap)
            claimed = mine if claimed is None else claimed.unionByName(mine).distinct()
        snap = sc.parent_snapshot
    return out
