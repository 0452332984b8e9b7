"""Deduplication operators over a corpus DataFrame — the training-data
pipeline layer a 100 TB webtext engine needs in front of indexing.

All operators are pure DataFrame/SQL expressions (JVM, codegen'd) — hashing
uses md5 so every result is reproducible in ANSI SQL by the DuckDB oracle.
At cluster scale each is shuffle-shaped as noted.

Operators:
- exact_dups        — hash-groupBy on full content (one shuffle on a
                      64-hex key; count via window, no row explosion)
- minhash_signatures— word-shingle MinHash (k lexicographic-min md5s; the
                      hex-string min is order-isomorphic to the numeric min).
                      ``k`` is configurable — 4 for the compact oracle
                      entries, 128 for production near-dup recall.
- lsh_bands         — full b×r banding: (docid, band_id, band_key) rows,
                      band_key = hash of r consecutive signature components.
                      Candidates = docs sharing any (band_id, band_key).
- lsh_candidate_pairs — distinct candidate pairs across ALL bands (the real
                      banding join), optionally capping pathological buckets
- lsh_verified_pairs — banding candidates → exact token-set Jaccard verify
                      → optional threshold: the composed production near-dup
                      pipeline.  Mega-clusters of identical docs make a
                      bucket quadratic — collapse exact dups first
                      (exact_dups) or pass ``max_bucket``.
- simhash_hex       — 64-bit SimHash as a 16-hex-digit string (production
                      shape; hex avoids 64-bit sign issues in both Spark and
                      the SQL oracle)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .tokenize import SIMPLE_SPLIT_RE

N_MINHASHES = 4


def _toks(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), SIMPLE_SPLIT_RE), lambda x: x != "")


def _md5(col: Column) -> Column:
    return F.md5(F.encode(col, "UTF-8"))


def exact_dups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, content md5, duplicate-group size)."""
    h = _md5(F.col(text_col)).alias("text_md5")
    w = Window.partitionBy("text_md5")
    return (
        df.select(F.col(id_col).cast("long").alias("docid"), h)
        .withColumn("n_dupes", F.count("*").over(w).cast("long"))
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles from simple tokens; empty array when < n tokens."""
    toks = _toks(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = N_MINHASHES
) -> DataFrame:
    """(docid, mh0..mh{k-1}) — min over shingles of md5('<seed>|'||shingle).

    Hex-string min == numeric min (fixed-length hex), so this is a true
    MinHash family with k independent permutations, reproducible in SQL.
    """
    sh = word_shingles(F.col(text_col)).alias("sh")
    out = df.select(F.col(id_col).cast("long").alias("docid"), sh)
    for seed in range(k):
        out = out.withColumn(
            f"mh{seed}",
            F.array_min(
                F.transform(F.col("sh"), lambda x: _md5(F.concat(F.lit(f"{seed}|"), x)))
            ),
        )
    return out.drop("sh")


def lsh_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 16,
    rows_per_band: int = 8,
) -> DataFrame:
    """Full b×r banding → (docid, band_id, band_key).

    k = n_bands·rows_per_band minhashes; band i's key hashes signature
    components [i·r, (i+1)·r).  With (b, r) = (16, 8) a pair with Jaccard s
    becomes a candidate with probability 1-(1-s⁸)¹⁶ — the standard S-curve
    (~0.5 at s≈0.7).  At scale each (band_id, band_key) is one shuffle key:
    bounded buckets, never an all-pairs join."""
    k = n_bands * rows_per_band
    sig = minhash_signatures(df, id_col, text_col, k=k)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "_",
                        *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("docid", F.explode(bands).alias("b")).select(
        "docid", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 16,
    rows_per_band: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a_docid < b_docid) across all bands.
    ``max_bucket`` drops pathological buckets (e.g. a mega-cluster of
    byte-identical docs — collapse those with exact_dups first)."""
    bands = lsh_bands(df, id_col, text_col, n_bands, rows_per_band)
    if max_bucket is not None:
        bands = bands.withColumn(
            "bsz", F.count("*").over(Window.partitionBy("band_id", "band_key"))
        ).filter(F.col("bsz") <= max_bucket).drop("bsz")
    a = bands.select("band_id", "band_key", F.col("docid").alias("a_docid"))
    b = bands.select("band_id", "band_key", F.col("docid").alias("b_docid"))
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("a_docid") < F.col("b_docid"))
        .select("a_docid", "b_docid")
        .distinct()
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 16,
    rows_per_band: int = 8,
    max_bucket: int | None = None,
    min_jaccard: float | None = None,
) -> DataFrame:
    """The PRODUCTION near-dup path end-to-end: b×r banding candidates
    (all bands, bucket cap) → exact token-set Jaccard verify over exactly
    those pairs → optional threshold.

    Shuffle shape at scale: the banding join keys on (band_id, band_key)
    (bounded buckets); verification joins the candidate-pair set — delta-
    sized, NOT the corpus — to token sets twice on docid.  No all-pairs
    stage anywhere."""
    pairs = lsh_candidate_pairs(
        df, id_col, text_col, n_bands, rows_per_band, max_bucket
    )
    toks = df.select(
        F.col(id_col).cast("long").alias("docid"),
        F.array_distinct(_toks(F.col(text_col))).alias("ts"),
    )
    sided = (
        pairs.join(toks.select(F.col("docid").alias("a_docid"), F.col("ts").alias("a_ts")), "a_docid")
        .join(toks.select(F.col("docid").alias("b_docid"), F.col("ts").alias("b_ts")), "b_docid")
    )
    inter = F.size(F.array_intersect("a_ts", "b_ts"))
    union = F.size("a_ts") + F.size("b_ts") - inter
    out = sided.select(
        "a_docid",
        "b_docid",
        F.round(inter.cast("double") / union.cast("double"), 4).alias("jaccard"),
    )
    if min_jaccard is not None:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def simhash_hex(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """(docid, simhash_hex) — ``bits``-bit SimHash emitted as a hex string
    (bits/4 chars, MSB first), sidestepping 64-bit sign/overflow issues in
    both Spark (ANSI long) and the SQL oracle.

    Bit j of a token's hash = bit (j div 32) of hex nibble (j mod 32) of
    md5(token) — 64 independent bits from one 128-bit digest, all JVM
    expressions.  Hamming distance for near-dup thresholds works per hex
    digit downstream."""
    assert bits % 4 == 0 and bits <= 128
    tok = (
        df.select(
            F.col(id_col).cast("long").alias("docid"),
            F.explode(_toks(F.col(text_col))).alias("term"),
        )
        .distinct()
        .withColumn("h", _md5(F.col("term")))
    )
    nibble = lambda p: F.conv(F.substring("h", p + 1, 1), 16, 10).cast("int")
    votes = [
        F.sum(
            F.when((nibble(j % 32).bitwiseAND(F.lit(1 << (j // 32)))) != 0, 1)
            .otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("docid").agg(*votes)
    n_digits = bits // 4
    digits = [
        F.format_string(
            "%x",
            sum(
                F.when(F.col(f"v{(n_digits - 1 - c) * 4 + i}") > 0, 1 << i).otherwise(0)
                for i in range(4)
            ),
        )
        for c in range(n_digits)
    ]
    return agg.select("docid", F.concat(*digits).alias("simhash_hex"))
