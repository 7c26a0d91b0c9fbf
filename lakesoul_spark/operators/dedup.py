"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB `documents`):

- **exact**: md5 of normalized text, one hash-groupBy — the canonical
  single-shuffle dedup; min-id survivor policy is deterministic.
- **n-gram Jaccard (exact near-dup)**: inverted-index self-join on
  shingles — candidate pairs are only pairs *sharing a shingle*, never
  the O(n²) cross product; intersection counts come from one groupBy.
- **MinHash+LSH (approximate near-dup, the scale path)**: k md5-derived
  min-hashes per document (one shuffle), banded into b buckets; the
  self-join happens per (band, signature) bucket — cost proportional to
  colliding candidates, independent of corpus size. Survivors are
  verified with exact Jaccard, so precision is exact and only recall is
  probabilistic (P[miss] = (1-t^r)^b).
- **SimHash**: per-token md5 nibble votes → fixed-width bit fingerprint;
  Hamming-adjacent fingerprints bucket together for near-dup blocking.

All hashing is md5 (hex strings), so every operator is bit-reproducible
in any SQL engine — each has an exact DuckDB oracle in
``lakesoul_spark.queries.pipeline``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from lakesoul_spark.operators.text import tokens, word_shingles


def normalize_text(col: Column) -> Column:
    from lakesoul_spark.operators.text import WS_CLASS

    return F.regexp_replace(F.lower(F.trim(col)), f"[{WS_CLASS}]+", " ")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id document per normalized-text hash; report group
    size. One shuffle (hash groupBy with map-side combine)."""
    h = F.md5(normalize_text(F.col(text_col))).alias("text_hash")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "text_hash", "dup_count")
    )


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    chunk_words: int = 10,
) -> DataFrame:
    """C4-style global chunk-level dedup: split every document into
    consecutive ``chunk_words``-token chunks, keep each distinct chunk
    only at its FIRST corpus occurrence (min (doc_id, chunk_idx)), and
    reassemble documents from their surviving chunks.

    Output: (doc_id, n_chunks, kept_chunks, clean_text) — every input
    document survives, possibly with an empty ``clean_text``.

    Scale design: chunking is map-only (array slice expressions, no
    explode-then-regroup for tokenization); the winner per chunk is a
    hash AGGREGATION (map-side combine collapses hot chunks — a window
    over partitionBy(chunk) would sort every occurrence of a viral
    chunk into one task), then one shuffle join back on the md5 chunk
    key and one groupBy(doc) to reassemble. Three shuffles total, all
    on uniform md5/id keys.

    Reference analog: LakeSoul delegates corpus-prep transforms to the
    host engine (README.md:31-39 positions it under AI data pipelines);
    this is the engine-side operator a 100 TB text pipeline needs.
    """
    w = int(chunk_words)
    # null text = empty doc (split(null) would yield size -1, and
    # sequence(0, -2) silently counts DOWN — the trap this guards)
    arr = F.split(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    n_chunks = F.ceil(F.size("_arr") / F.lit(float(w))).cast("int")
    chunks = docs.select(
        F.col(id_col).alias("doc_id"), arr.alias("_arr")
    ).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(" ", F.slice("_arr", i * w + 1, w)),
            )
        ).alias("chunk_idx", "chunk"),
    ).withColumn("chunk_key", F.md5("chunk"))

    winners = chunks.groupBy("chunk_key").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("w")
    ).select(
        "chunk_key",
        F.col("w.doc_id").alias("w_doc"),
        F.col("w.chunk_idx").alias("w_idx"),
    )

    flagged = chunks.join(winners, "chunk_key").withColumn(
        "kept",
        (F.col("doc_id") == F.col("w_doc"))
        & (F.col("chunk_idx") == F.col("w_idx")),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("chunk_idx", "kept", "chunk"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("kept").cast("long")).alias("kept_chunks"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(ordered, lambda x: x["kept"]),
                    lambda x: x["chunk"],
                ),
            ).alias("clean_text"),
        )
        .select("doc_id", "n_chunks", "kept_chunks", "clean_text")
    )


def _widen(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound per-row work (regexp tokenization) runs wide.

    A small input (one parquet file → one split) would tokenize on a
    single core; repartitioning a few thousand rows costs nothing. At
    scale the scan already has ≥ defaultParallelism splits and this is
    a no-op — no shuffle is added on the 100 TB path."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df


def _shingle_sets(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) pairs, distinct per document."""
    sh = F.array_distinct(word_shingles(tokens(F.col(text_col)), n))
    return _widen(docs).select(F.col(id_col).alias("id"), F.explode(sh).alias("sh"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT near-duplicate pairs by word-n-gram Jaccard ≥ threshold.

    Inverted-index join: pairs that share at least one shingle get their
    intersection counted in one aggregation; set sizes broadcast back.

    ``max_shingle_doc_freq``: skew guard for the 100 TB run — shingles
    appearing in more than N documents are dropped from the *candidate
    index* (a shingle in d docs yields d² join rows; stopword shingles
    like "of the and" dominate the shuffle while contributing almost no
    discriminative power). Candidate generation becomes approximate
    (a pair whose ONLY shared shingles are ultra-frequent is missed),
    but the Jaccard of surviving pairs stays exact: intersection and
    sizes still count every shingle. Default None = fully exact."""
    # NOT cached: the self-join's two identical scan→tokenize→explode
    # subtrees collapse into one ReusedExchange, and recomputing the
    # (wide, map-only) shingle stage for the size/doc-freq aggregates
    # is cheaper than building + reading a columnar InMemoryRelation of
    # exploded strings (measured 4× slower with the cache at sf0.1)
    sh = _shingle_sets(docs, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # Pin the shingle exchange's partition count (scale-adaptive: the
    # session's shuffle.partitions). The self-join's output is
    # QUADRATIC per shingle group while its shuffle BYTES are tiny, so
    # AQE's size-based partition coalescing (advisory-size targets)
    # would merge shingle groups and starve the d²-row join stage of
    # parallelism — AQE only sees map-output bytes, not join
    # multiplication. An explicit keyed repartition is exempt from
    # coalescing but still eligible for AQE skew-splitting, and it IS
    # the distribution the window + self-join below need, so no extra
    # exchange is paid (ReusedExchange as before).
    try:
        n_part = int(docs.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    except ValueError:
        # "auto" on some platforms — fall back to the cluster's
        # default parallelism, the same scale-adaptive intent
        n_part = int(docs.sparkSession.sparkContext.defaultParallelism)
    sh = sh.repartition(n_part, "sh")
    if max_shingle_doc_freq is None:
        # fully exact: candidate generation and intersection counting
        # are the same self-join
        inter = (
            sh.alias("a")
            .join(sh.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        out = (
            inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
            .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
        return out
    # skew-guarded: ONLY the doc-frequency-capped index feeds the
    # quadratic join; the intersection stays EXACT arithmetically —
    # |A∩B| = shared rare shingles (counted by the capped join) +
    # shared HOT shingles (counted per surviving candidate pair).
    #
    # Shuffle shape (this runs on every corpus, so it must cost about
    # the same as the exact path when nothing is hot): doc-frequency is
    # attached with ONE window pass over the ONE exchange-by-shingle
    # the self-join needs anyway — the window's hashpartitioning(sh) +
    # sort(sh) is exactly the sort-merge join's required distribution,
    # so `idx` (df ≤ cap) and the hot postings (df > cap) are filters
    # over the SAME shuffle output (ReusedExchange), the tokenize/
    # explode stage runs once below it, and there is no broadcast
    # barrier. (An earlier version aggregated hot shingles separately
    # and anti-joined them in: two extra full recomputes of the explode
    # + a driver-blocking broadcast wait — measured 3× slower than the
    # exact path at sf0.1; this shape is within ~40% of it.)
    #   - capped self-join rows ∝ Σ_rare df² ≤ cap×|index|, never a
    #     stopword blowup,
    #   - hot completion: candidates (already few) joined to the hot
    #     postings (Σ_hot df rows — linear, the d² expansion never
    #     happens) to count shared hot shingles.
    # A pair whose ONLY shared shingles are hot is missed (documented
    # approximation); every surviving pair's Jaccard is exact.
    from pyspark.sql import Window

    shd = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    )
    idx = shd.filter(F.col("df") <= max_shingle_doc_freq).select("id", "sh")
    # consumed twice below (hot completion + final result) but NOT
    # cached: both consumers sit on the same pair-aggregate exchange,
    # so the expensive stages run once via ReusedExchange, and skipping
    # the InMemoryRelation build measures faster at sf0.1.
    inter_rare = (
        idx.alias("a")
        .join(idx.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter_rare"))
    )
    hot_post = shd.filter(F.col("df") > max_shingle_doc_freq).select("id", "sh")
    inter_hot = (
        inter_rare.select("id_a", "id_b")
        .join(hot_post.select(F.col("id").alias("id_a"), "sh"), "id_a")
        .join(hot_post.select(F.col("id").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_hot"))
    )
    return (
        inter_rare.join(inter_hot, ["id_a", "id_b"], "left")
        .withColumn(
            "inter",
            F.col("inter_rare") + F.coalesce(F.col("inter_hot"), F.lit(0)),
        )
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _minhash_sig(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Signatures from (id, sh) pairs. Hash family: h_s(sh) with
    s = 4k + j is the j-th 8-hex-char slice of md5('k|'||sh) — one md5
    yields FOUR independent 32-bit hash values (fixed-width lowercase
    hex compares like the integer it encodes). The md5s are
    materialized ONCE per shingle row in a projection (aggregate
    expressions get no common-subexpression elimination), so the cost
    is num_hashes/4 md5 calls per shingle. The same family is
    re-stated verbatim in the DuckDB oracle."""
    assert num_hashes % 4 == 0
    # rendered as parsed SQL strings, not Column trees: the Column
    # build cost ~0.25 s of driver Py4J per plan (~160 round-trips),
    # paid by every build/refresh/ingest/pair query — driver time
    # doesn't parallelize (the similarity.py _index_rows_fast_sql
    # lesson). Values are pinned by the DuckDB oracles restating this
    # exact family, so the rewrite stays hash-checked end to end.
    proj = sh.selectExpr(
        "id",
        *[f"md5(concat('{k}|', sh)) AS h{k}" for k in range(num_hashes // 4)],
    )
    aggs = [
        F.expr(f"min(substring(h{s // 4}, {1 + 8 * (s % 4)}, 8)) AS mh{s}")
        for s in range(num_hashes)
    ]
    return proj.groupBy("id").agg(*aggs)


def _lsh_buckets(sig: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    """(id, band, key) bucket rows from a signature frame — band key =
    md5 of the band's concatenated min-hashes."""
    bands = num_hashes // rows_per_band
    # parsed SQL rendering for the same reason as _minhash_sig above
    structs = ", ".join(
        "struct({b} AS band, md5(concat_ws('|', {parts})) AS key)".format(
            b=b,
            parts=", ".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.selectExpr(
        "id", f"explode(array({structs})) AS bk"
    ).selectExpr("id", "bk.band AS band", "bk.key AS key")


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental-ingest dedup: classify every NEW document against an
    EXISTING corpus — ``exact`` (normalized-text hash match), ``near``
    (MinHash-LSH candidate verified by exact shingle Jaccard ≥
    threshold), or ``novel``. Output: (doc_id, status, match_id,
    jaccard) — ``match_id`` is the lowest-id corpus match (exact wins
    over near; jaccard = 1.0 for exact), every new doc gets a row.

    This is the daily-ingest shape at 100 TB: the new batch is small,
    the corpus huge. The corpus is touched by ONE shingle explode +
    signature aggregation (identical cost to self-LSH); candidates are
    banded bucket joins (new × corpus restricted to shared band keys,
    never all-pairs), and the best-match choice is a hash aggregation
    (min struct), not a window."""
    nh = new_docs.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("h"),
    )
    ch = corpus.select(
        F.col(id_col).alias("cid"),
        F.md5(normalize_text(F.col(text_col))).alias("h"),
    )
    exact = nh.join(ch, "h").groupBy("id").agg(F.min("cid").alias("exact_id"))

    sh_n = _shingle_sets(new_docs, id_col, text_col, n)
    sh_c = _shingle_sets(corpus, id_col, text_col, n)
    bn = _lsh_buckets(_minhash_sig(sh_n, num_hashes), num_hashes, rows_per_band)
    bc = _lsh_buckets(_minhash_sig(sh_c, num_hashes), num_hashes, rows_per_band)
    cand = (
        bn.join(bc.select(F.col("id").alias("cid"), "band", "key"),
                ["band", "key"])
        .select("id", "cid")
        .distinct()
    )
    sets_n = sh_n.groupBy("id").agg(F.collect_set("sh").alias("shs_n"))
    sets_c = sh_c.groupBy("id").agg(F.collect_set("sh").alias("shs_c")) \
        .withColumnRenamed("id", "cid")
    return _classify_against_corpus(
        new_docs, id_col, exact, cand, sets_n, sets_c, threshold
    )


def _classify_against_corpus(
    new_docs: DataFrame,
    id_col: str,
    exact: DataFrame,
    cand: DataFrame,
    sets_n: DataFrame,
    sets_c: DataFrame,
    threshold: float,
) -> DataFrame:
    """Shared verify-and-classify tail of the corpus-ingest dedups:
    exact-Jaccard-verify the LSH candidates, pick the min-id match
    (hash aggregation, not a window), left-join exact + near onto the
    new batch and label each row exact / near / novel."""
    inter = F.size(F.array_intersect(F.col("shs_n"), F.col("shs_c")))
    near = (
        cand.join(sets_n, "id")
        .join(sets_c, "cid")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("shs_n") + F.size("shs_c") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy("id")
        .agg(F.min(F.struct("cid", "jaccard")).alias("m"))
        .select(
            "id",
            F.col("m.cid").alias("near_id"),
            F.round("m.jaccard", 6).alias("near_jaccard"),
        )
    )
    base = new_docs.select(F.col(id_col).alias("id"))
    return (
        base.join(exact, "id", "left")
        .join(near, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce("exact_id", "near_id").alias("match_id"),
            F.when(F.col("exact_id").isNotNull(), F.lit(1.0))
            .otherwise(F.col("near_jaccard"))
            .alias("jaccard"),
        )
    )


# --------------------------------------------------- persisted band index

DEDUP_INDEX_DIR = "_dedup_index"


def _band_postings(
    docs: DataFrame, id_col: str, text_col: str,
    n: int, num_hashes: int, rows_per_band: int,
) -> DataFrame:
    """(id, band, key, h) posting rows: one row per LSH band per doc,
    each carrying the doc's exact-dup hash ``h`` (md5 of normalized
    text) so ingest never re-reads corpus text for the exact check."""
    sh = _shingle_sets(docs, id_col, text_col, n)
    b = _lsh_buckets(_minhash_sig(sh, num_hashes), num_hashes, rows_per_band)
    h = docs.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("h"),
    )
    return b.join(h, "id")


def build_dedup_index(
    table,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 2,
    hash_bucket_num: int = 4,
) -> str:
    """Build a persisted MinHash-LSH band index for a LakeSoul corpus
    table — the signatures :func:`dedup_against_corpus` recomputes from
    scratch every ingest, materialized ONCE and maintained
    incrementally (mirroring the vector index pair
    ``build_vector_index`` / ``refresh_vector_index``; reference
    discipline ``python/src/lakesoul/vector_index.py:96-160``).

    The index IS a LakeSoul table at ``<table>/_dedup_index`` with
    PRIMARY KEY ``(id, band)``: a doc's postings live in fixed murmur3
    buckets, so refreshing a changed doc is a bucket-local delta upsert
    (its 16 PK rows replace in place via MOR) and never rewrites
    unchanged files. Rows are ``(id, band, key, h)`` — ``key`` is the
    band's signature bucket, ``h`` the exact-dup hash. Index size is
    O(docs x bands) short hex strings, orders of magnitude smaller
    than corpus text. Recipe lives in table properties."""
    import shutil as _shutil

    from lakesoul_spark.meta.store import MetaStore
    from lakesoul_spark.table import LakeSoulTable, write

    assert num_hashes % rows_per_band == 0
    base_head = MetaStore(table.path).head_version()
    src = table.to_df().select(id_col, text_col)
    post = _band_postings(
        src, id_col, text_col, n, num_hashes, rows_per_band
    ).select(F.col("id").alias(id_col), "band", "key", "h")
    idx_path = f"{table.path}/{DEDUP_INDEX_DIR}"
    _shutil.rmtree(idx_path, ignore_errors=True)
    write(
        post, idx_path, mode="overwrite",
        hash_partitions=[id_col, "band"], hash_bucket_num=hash_bucket_num,
    )
    t = LakeSoulTable.for_path(table.spark, idx_path)
    t.set_properties({
        "dedup.id_col": id_col,
        "dedup.text_col": text_col,
        "dedup.n": str(n),
        "dedup.num_hashes": str(num_hashes),
        "dedup.rows_per_band": str(rows_per_band),
        "dedup.base_version": str(base_head),
    })
    return idx_path


def refresh_dedup_index(table, *, on_rewrite: str = "rebuild") -> dict:
    """Incrementally maintain the persisted band index after corpus
    commits: changed ids come from the delta files of the commits since
    ``dedup.base_version`` (no corpus scan), their fresh postings from
    a semi-join against the MOR view, and the update is ONE delta
    upsert — cost O(changed docs x bands), never O(corpus). Ids that
    vanished from the corpus (CDC delete / rewrite) get their postings
    deleted (per-row file identity, O(touched files)).

    UPDATE/DELETE rewrite commits on the corpus cannot be read as a row
    delta; ``on_rewrite="rebuild"`` (default) falls back to a full
    rebuild under the STORED recipe, ``"fail"`` raises (same contract
    as ``refresh_vector_index``).

    Returns ``{"mode": "noop"|"incremental"|"rebuild", "changed_ids",
    "postings_rows", "deleted_ids", "files_added", "files_rewritten",
    "buckets_touched", "total_buckets"}``."""
    import os as _os

    from lakesoul_spark.meta.store import DataRewriteError, MetaStore
    from lakesoul_spark.table import LakeSoulTable

    if on_rewrite not in ("rebuild", "fail"):
        raise ValueError(
            f"on_rewrite must be 'rebuild' or 'fail', got {on_rewrite!r}"
        )
    spark = table.spark
    idx_path = f"{table.path}/{DEDUP_INDEX_DIR}"
    idx = LakeSoulTable.for_path(spark, idx_path)
    props = idx.info.properties
    id_col = props["dedup.id_col"]
    text_col = props["dedup.text_col"]
    n = int(props["dedup.n"])
    num_hashes = int(props["dedup.num_hashes"])
    rows_per_band = int(props["dedup.rows_per_band"])
    base_v = int(props["dedup.base_version"])

    base_store = MetaStore(table.path)
    head = base_store.head_version()
    if head <= base_v:
        return {"mode": "noop", "changed_ids": 0, "postings_rows": 0,
                "deleted_ids": 0}

    def _full_rebuild() -> dict:
        build_dedup_index(
            table, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, rows_per_band=rows_per_band,
            hash_bucket_num=idx.info.hash_bucket_num,
        )
        return {"mode": "rebuild", "changed_ids": -1, "postings_rows": -1,
                "deleted_ids": -1}

    try:
        delta_files = base_store.files_in_version_range(
            base_v, head, on_rewrite="fail"
        )
    except DataRewriteError:
        if on_rewrite == "fail":
            raise
        return _full_rebuild()

    paths = [_os.path.join(table.path, f.path) for f in delta_files]
    if not paths:
        # only compaction commits since the build — nothing changed
        idx.set_properties({"dedup.base_version": str(head)})
        return {"mode": "noop", "changed_ids": 0, "postings_rows": 0,
                "deleted_ids": 0}
    changed_ids = spark.read.parquet(*paths).select(id_col).distinct().cache()
    # fresh postings: CURRENT text of the changed ids (a CDC-deleted or
    # rewritten-away id yields no row here)
    fresh_src = (
        table.to_df().select(id_col, text_col)
        .join(changed_ids, id_col, "semi")
    )
    fresh = _band_postings(
        fresh_src, id_col, text_col, n, num_hashes, rows_per_band
    ).select(F.col("id").alias(id_col), "band", "key", "h")
    if table.info.cdc_column:
        # consumed twice on CDC corpora (the upsert write AND the
        # vanished-id anti-join below); append/upsert-only corpora
        # have a single consumer — no cache
        fresh = fresh.cache()
    bands = num_hashes // rows_per_band
    idx_store = MetaStore(idx_path)
    # ONE pass (r16-opt, guide §1.4): the postings count comes from the
    # written files' parquet footers (FileOp.num_rows, read anyway for
    # the commit) — the r15 shape paid a separate fresh.count() job
    # first just to decide whether to upsert. Gating the MERGE commit
    # on the ops actually produced is the same decision (zero rows ⇔
    # zero files ⇔ no commit), one scheduler round-trip cheaper per
    # refresh. Exact: fresh is unique on the index PK (one posting per
    # (id, band)), so the write-side dedup collapses nothing. (An
    # df.observe() metric would be cheaper still, but AQE's
    # empty-relation propagation drops the CollectMetrics node when
    # the frame turns out runtime-empty — a delete-only churn window —
    # leaving the observation unreadable.)
    from lakesoul_spark.io.writer import write_table_data as _wtd
    from lakesoul_spark.meta.store import OP_MERGE as _OP_MERGE

    ops = _wtd(fresh, idx.info)
    n_rows = sum(max(o.num_rows, 0) for o in ops if o.op == "add")
    up_v = None
    if ops:
        idx_store.commit(_OP_MERGE, ops)
        up_v = idx_store.head_version()
    # vanished ids: changed on the base table but absent from the MOR
    # view (deleted). The tombstone set stays a DataFrame end to end
    # (delete_matching anti-joins it against the index), so a
    # million-delete churn day costs one distributed join instead of a
    # million-literal isin plan; only its COUNT reaches the driver.
    # Probed ONLY when the window can vanish ids at all (r15-opt):
    # rewrite commits already routed to rebuild above, so a non-CDC
    # corpus window is append/upsert-only — every changed id has a
    # current MOR row and the anti-join is empty by construction
    # (same gate as mv._window_may_vanish).
    n_vanished = 0
    if table.info.cdc_column:
        vanished_df = changed_ids.join(
            fresh.select(id_col).distinct(), id_col, "anti"
        ).cache()
        n_vanished = vanished_df.count()
        if n_vanished:
            idx.delete_matching(vanished_df)
        vanished_df.unpersist()
    # evidence: the upsert commit appended delta files into the changed
    # ids' buckets only — nothing pre-existing was rewritten
    files_added, buckets = 0, set()
    rewritten = 0
    if up_v is not None:
        commit = idx_store.read_commit(up_v)
        for fo in commit.file_ops:
            if fo.op == "add":
                files_added += 1
                buckets.add(fo.bucket)
            else:
                rewritten += 1
    changed_ids.unpersist()
    fresh.unpersist()
    idx.set_properties({"dedup.base_version": str(head)})
    # changed = live changed (postings_rows / bands, exact by
    # construction) + vanished — no extra count job over the delta set
    return {
        "mode": "incremental",
        "changed_ids": n_rows // bands + n_vanished,
        "postings_rows": n_rows,
        "deleted_ids": n_vanished,
        "files_added": files_added,
        "files_rewritten": rewritten,
        "buckets_touched": sorted(buckets),
        "total_buckets": idx.info.hash_bucket_num,
    }


def dedup_against_corpus_indexed(
    new_docs: DataFrame,
    corpus_table,
    *,
    threshold: float = 0.8,
    prune_buckets: bool = False,
) -> DataFrame:
    """Incremental-ingest dedup against the PERSISTED band index —
    byte-identical output to :func:`dedup_against_corpus` (same oracle)
    with the corpus-side signature recomputation gone.

    Per ingest the corpus contributes exactly two reads, both cheap:

    - the band-postings index (short hex rows, O(docs x bands) —
      orders of magnitude smaller than corpus text): exact matches join
      the persisted ``h``, candidates join the persisted ``(band,
      key)`` postings;
    - corpus TEXT only for the candidate docs, via a broadcast
      semi-join (the candidate set is proportional to the new batch, so
      the corpus scan is map-side filtered — no corpus shuffle) — only
      those docs are re-shingled for the exact-Jaccard verify.

    ``prune_buckets=True`` additionally skips corpus FILES outside the
    candidate ids' murmur3 buckets (two-phase: the candidate set is
    computed eagerly once to learn its buckets — driver payload is the
    distinct bucket set, bounded by ``hash_bucket_num`` — then the plan
    is rebuilt lazily against the pruned file list). Worth it when the
    corpus has many buckets and candidates cluster in few."""
    from lakesoul_spark.io import reader as rdr
    from lakesoul_spark.meta.store import MetaStore, Snapshot
    from lakesoul_spark.table import LakeSoulTable

    idx_path = f"{corpus_table.path}/{DEDUP_INDEX_DIR}"
    idx = LakeSoulTable.for_path(corpus_table.spark, idx_path)
    props = idx.info.properties
    id_col = props["dedup.id_col"]
    text_col = props["dedup.text_col"]
    n = int(props["dedup.n"])
    num_hashes = int(props["dedup.num_hashes"])
    rows_per_band = int(props["dedup.rows_per_band"])

    post = idx.to_df().select(
        F.col(id_col).alias("cid"), "band", "key", "h"
    )
    nh = new_docs.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("h"),
    )
    # exact check rides the persisted h (band 0 = one row per doc)
    exact = (
        nh.join(post.filter(F.col("band") == 0).select("cid", "h"), "h")
        .groupBy("id").agg(F.min("cid").alias("exact_id"))
    )
    sh_n = _shingle_sets(new_docs, id_col, text_col, n)
    bn = _lsh_buckets(_minhash_sig(sh_n, num_hashes), num_hashes, rows_per_band)
    cand = (
        bn.join(post.select("cid", "band", "key"), ["band", "key"])
        .select("id", "cid")
        .distinct()
    )

    corpus = corpus_table.to_df()
    if prune_buckets:
        info = corpus_table.info
        if info.hash_partitions == [id_col]:
            n_b = info.hash_bucket_num
            buckets = {
                r["b"]
                for r in cand.select(
                    F.pmod(F.hash("cid"), F.lit(n_b)).alias("b")
                ).distinct().collect()
            }
            snap = MetaStore(corpus_table.path).snapshot()
            corpus = rdr.merge_view(
                corpus_table.spark, info,
                Snapshot(
                    version=snap.version,
                    timestamp_ms=snap.timestamp_ms,
                    files=[f for f in snap.files
                           if f.bucket in buckets or f.bucket == -1],
                ),
            )
    cand_docs = corpus.join(
        F.broadcast(cand.select(F.col("cid").alias(id_col)).distinct()),
        id_col, "semi",
    )
    sets_n = sh_n.groupBy("id").agg(F.collect_set("sh").alias("shs_n"))
    sets_c = (
        _shingle_sets(cand_docs, id_col, text_col, n)
        .groupBy("id").agg(F.collect_set("sh").alias("shs_c"))
        .withColumnRenamed("id", "cid")
    )
    return _classify_against_corpus(
        new_docs, id_col, exact, cand, sets_n, sets_c, threshold
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified.

    bands = num_hashes / rows_per_band; band key = md5 of the band's
    concatenated min-hashes. Candidates = pairs sharing ≥1 band key;
    each candidate is verified with exact shingle Jaccard ≥ threshold,
    so output precision is exact (recall ≈ 1-(1-t^r)^b)."""
    assert num_hashes % rows_per_band == 0
    bands = num_hashes // rows_per_band
    # one shingle explode feeds BOTH the signature aggregation and the
    # candidate verification; recomputing the wide map-only stage is
    # cheaper than a columnar cache of exploded strings (see
    # ngram_jaccard_pairs) — the consumers' exchanges differ, so a
    # cache would not even enable exchange reuse
    sh = _shingle_sets(docs, id_col, text_col, n)
    sig = _minhash_sig(sh, num_hashes)
    buckets = _lsh_buckets(sig, num_hashes, rows_per_band)
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # verify ONLY the LSH candidates (the whole point of banding): attach
    # each side's shingle set and take the exact set Jaccard — candidate
    # count is tiny, so this join is broadcast-sized, never all-pairs
    sets_df = sh.groupBy("id").agg(F.collect_set("sh").alias("shs"))
    a = sets_df.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    b = sets_df.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect(F.col("shs_a"), F.col("shs_b")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("shs_a") + F.size("shs_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash fingerprint: bit j votes +tf/-tf by the high bit of the
    j-th md5 nibble of each token; fingerprint = '1'/'0' string of
    length ``bits`` (≤32 hex nibbles of md5). Per-token explode + one
    groupBy; no UDFs."""
    assert bits <= 32
    toks = _widen(docs).select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    toks = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    toks = toks.withColumn("h", F.md5(F.col("tok")))
    # parsed SQL rendering (the _minhash_sig lesson): the per-bit
    # Column trees cost ~0.5 s of driver Py4J per plan
    votes = [
        F.expr(
            f"sum(CASE WHEN substring(h, {j + 1}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN tf ELSE -tf END) AS v{j}"
        )
        for j in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    fp = " || ".join(
        f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(bits)
    )
    return agg.selectExpr("id", f"({fp}) AS simhash")


def _norm_rows(vals):
    """Stack an iterable of array-cells into an L2-normalized float64
    matrix."""
    import numpy as np

    m = np.asarray([np.asarray(v, dtype=np.float64) for v in vals])
    if m.size:
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
    return m


def embedding_cosine_dup_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_chunks: int | None = None,
) -> DataFrame:
    """EXACT embedding near-dup pairs by cosine ≥ threshold, fully
    distributed: no driver materialization anywhere.

    Block-nested-loop over id-hash chunks — the classic distributed
    all-pairs. The corpus is salted into C chunks; each row is
    replicated to every chunk-pair group it participates in (side A to
    (c, j≥c), side B to (i≤c, c) — C+1 copies per row), and each
    (i, j) group scores its two chunk matrices with ONE float64 GEMM
    inside ``applyInPandas``. Task memory is bounded by two chunks,
    never the corpus; compute is the inherent O(n²) of the exact
    operator. The comparison and the emitted score both use the 6-dp
    rounded cosine so the decision is insensitive to summation-order
    ulps across engines.

    Scale note: at 100 TB you don't run exact all-pairs — you block
    first (``embedding_cosine_blocked_pairs`` / ``dedup_minhash_lsh``)
    and keep this kernel as the within-block scorer."""
    import numpy as np
    import pandas as pd

    C = num_chunks or min(32, emb.sparkSession.sparkContext.defaultParallelism)
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(C)).cast("int").alias("_c"),
    )
    groups = F.array_union(
        F.transform(
            F.sequence(F.col("_c"), F.lit(C - 1)),
            lambda j: F.struct(F.col("_c").alias("gi"), j.alias("gj")),
        ),
        F.transform(
            F.sequence(F.lit(0), F.col("_c")),
            lambda i: F.struct(i.alias("gi"), F.col("_c").alias("gj")),
        ),
    )
    exploded = (
        base.withColumn("g", F.explode(groups))
        .select("_id", "_v", "_c", F.col("g.gi").alias("gi"), F.col("g.gj").alias("gj"))
    )

    def score(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = key
        if gi == gj:
            ids = pdf["_id"].to_numpy()
            m = _norm_rows(pdf["_v"])
            s = np.round(m @ m.T, 6)
            ia, ib = np.nonzero((s >= threshold) & (ids[:, None] < ids[None, :]))
            return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib], "cos": s[ia, ib]})
        a, b = pdf[pdf["_c"] == gi], pdf[pdf["_c"] == gj]
        ai, bi = a["_id"].to_numpy(), b["_id"].to_numpy()
        ma, mb = _norm_rows(a["_v"]), _norm_rows(b["_v"])
        if not (ma.size and mb.size):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        s = np.round(ma @ mb.T, 6)
        ia, ib = np.nonzero(s >= threshold)
        lo = np.minimum(ai[ia], bi[ib])
        hi = np.maximum(ai[ia], bi[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": s[ia, ib]})

    return exploded.groupBy("gi", "gj").applyInPandas(
        score, "id_a bigint, id_b bigint, cos double"
    )


def embedding_cosine_blocked_pairs(
    emb: DataFrame,
    *,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_assign: int = 2,
) -> DataFrame:
    """IVF-cell-blocked embedding near-dup — the 100 TB code path.

    Each vector is assigned to its ``n_assign`` nearest IVF cells
    (multi-assign recovers most near-boundary pairs); candidate pairs
    are only pairs sharing a cell, scored with the same per-block GEMM
    kernel inside ``applyInPandas``. Cost ∝ Σ cell² instead of n²;
    task memory is one cell's matrix. Centroids come from
    ``similarity.train_ivf_centroids`` (deterministic seeded kmeans),
    so the blocking itself is SQL-expressible and the operator carries
    a full value-hash oracle despite being approximate-by-blocking
    (reference shape: per-shard index, vector_index.py:96-160)."""
    import numpy as np
    import pandas as pd

    from lakesoul_spark.operators.similarity import _nearest_cells

    assigned = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(
            _nearest_cells(F.col(vec_col), centroids, n_assign)
        ).alias("cell"),
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        m = _norm_rows(pdf["_v"])
        s = np.round(m @ m.T, 6)
        ia, ib = np.nonzero((s >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib], "cos": s[ia, ib]})

    pairs = assigned.groupBy("cell").applyInPandas(
        score, "id_a bigint, id_b bigint, cos double"
    )
    # a pair sharing two cells is emitted twice with the same rounded
    # score — collapse to one row (min guards the astronomically-rare
    # case of a last-ulp rounding split between two GEMM shapes)
    return pairs.groupBy("id_a", "id_b").agg(F.min("cos").alias("cos"))


def duplicate_clusters(
    pairs: DataFrame,
    *,
    checkpoint_dir: str | None = None,
    materialize_edges: bool = True,
) -> DataFrame:
    """Connected components over near-dup pairs → cluster assignment
    (the step after pair generation in a dedup pipeline: every doc in a
    component keeps the component's min id as ``cluster_id``; the
    canonical survivor is the row with ``doc_id == cluster_id``).

    Distributed label propagation (the GraphFrames/GraphX CC shape):
    each round every node adopts the min label among itself and its
    neighbors — one join + one aggregate per round, O(diameter) rounds
    (near-dup components are shallow in practice). No driver-side graph;
    state is a (node, label) frame repartitioned by node.

    Durability: by default rounds are cut with ``localCheckpoint()`` —
    fastest, but the blocks live on executors and die with them. On a
    real cluster pass ``checkpoint_dir`` (an HDFS/S3 path): rounds then
    use reliable ``checkpoint()``, so an executor loss costs a re-read,
    not a full recompute of every round so far.
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def cut(df: DataFrame) -> DataFrame:
        # LAZY cut: lineage is truncated at the first action over the
        # frame, so the convergence count below doubles as the round's
        # materialization job — one job per round instead of an eager
        # checkpoint job plus a count job
        return df.checkpoint(eager=False) if checkpoint_dir is not None \
            else df.localCheckpoint(eager=False)

    # materialize the (symmetrized) edge set ONCE — every round joins
    # against it; the checkpoint also cuts the (possibly expensive)
    # pair-generation lineage out of the loop. ``materialize_edges=
    # False`` keeps the edge lineage lazy instead (every round then
    # recomputes pair generation — only sensible when pair-gen is
    # trivial and the component diameter is 1-2 rounds).
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .union(pairs.select(F.col("id_b"), F.col("id_a")))
        .distinct()
    )
    if materialize_edges:
        edges = cut(edges)
    labels = cut(
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    while True:
        neigh = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        # one job per round: the convergence count materializes the
        # lazily-checkpointed next labels (lineage still cut, so round
        # N never replays rounds 1..N-1)
        updated = cut(
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(F.col("cluster_id"), F.coalesce("nmin", "cluster_id")).alias(
                    "new_label"
                ),
                "cluster_id",
            )
        )
        changed = updated.filter(F.col("new_label") != F.col("cluster_id")).count()
        labels = updated.select("id", F.col("new_label").alias("cluster_id"))
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


def stratified_sample(
    df: DataFrame,
    *,
    id_col: str,
    strata_col: str,
    fractions: dict,
    default_fraction: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-stratum sampling for training-data mixing
    ("take 30% of lang=en, 100% of lang=fr, ..."): a row is kept iff
    the first 8 hex chars of ``md5(seed|id)`` — a uniform 32-bit draw,
    reproducible in any engine — fall under the stratum's fraction.
    Pure expressions (no RNG state, no sampling operator), so the
    selection is stable across retries, partitionings, and engines —
    the property a 100 TB pipeline needs for resumable runs."""
    draw = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    frac = F.lit(default_fraction)
    for value, p in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(float(p))).otherwise(frac)
    return df.filter(draw < (frac * F.lit(float(1 << 32))).cast("long"))


def ngram_overlap_pairs(
    left: DataFrame,
    right: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination check: (left doc, right doc) pairs
    sharing ≥ ``min_shared`` word n-grams — e.g. training corpus vs
    eval set. Same inverted-index shape as the Jaccard dedup: the join
    touches only co-occurring shingles, never the cross product, and
    the overlap count is one aggregation."""
    a = _shingle_sets(left, id_col, text_col, n).select(
        F.col("id").alias("left_id"), "sh"
    )
    b = _shingle_sets(right, id_col, text_col, n).select(
        F.col("id").alias("right_id"), "sh"
    )
    return (
        a.join(b, "sh")
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
