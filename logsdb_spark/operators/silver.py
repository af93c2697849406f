"""Date-partitioned silver layout for the events fact (SURVEY §4).

The reference's daily window is one predicate over a single PostgreSQL
table (core.py:60-61) — PostgreSQL's indexes make it cheap there. The
Spark-native equivalent at 100 TB is LAYOUT: a silver copy of events
partitioned by ``event_date`` so the 24 h window becomes *partition
pruning* — the scan lists ~2 of N day-directories and never opens the
rest — on top of the row-group pruning the literal-anchor pushdown
(operators/windows.last_day_table) already gets on a monolithic file.
The streaming ingest sink already writes this layout for new data
(streaming/ingest.py partitions by (event_date, batch)); this module
materializes the same layout for an existing bronze parquet, so the
analytics path can demonstrate the pruning end-to-end.

Materialization contract: one silver per (sf_dir, source mtime) under
the system temp dir; a bumped mtime writes a NEW silver dir and evicts
the stale one (same self-invalidation contract as catalog._TABLE_CACHE).
Writes are atomic via write-to-tmp + rename, so concurrent callers race
benignly: the loser keeps the winner's dir and discards its own.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import _pin_session_confs, _source_mtime, load_table

# Per-user root (uid in the name + mode 0o700 + ownership check below):
# a FIXED path under the world-writable tempdir would let another local
# user pre-create it and plant parquet layouts that silver-routed
# queries silently read. LOGSDB_SPARK_SILVER_ROOT overrides for
# deployments with a managed scratch location.
_SILVER_ROOT = os.environ.get(
    "LOGSDB_SPARK_SILVER_ROOT",
    os.path.join(tempfile.gettempdir(), f"logsdb_spark_silver_{os.getuid()}"),
)


def _ensure_silver_root() -> None:
    """Create the layout root 0o700 and refuse one owned by someone
    else (symlink swaps / pre-created dirs are rejected, not read)."""
    os.makedirs(_SILVER_ROOT, mode=0o700, exist_ok=True)
    st = os.stat(_SILVER_ROOT)
    if st.st_uid != os.getuid():
        raise PermissionError(
            f"silver root {_SILVER_ROOT} is owned by uid {st.st_uid}, "
            f"not the current user — refusing to reuse it"
        )


def _silver_target(sf_dir: str) -> tuple[str, str]:
    """(digest-prefix, full target dir) for the current source mtime."""
    digest = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    mtime = _source_mtime(os.path.join(sf_dir, "events.parquet"))
    return digest, os.path.join(_SILVER_ROOT, f"ev_{digest}_{mtime}")


def silver_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table re-laid-out as parquet PARTITIONED BY
    event_date (= to_date(ts)). Materialized at most once per source
    mtime; later calls are a plain partitioned-directory read. The
    read passes the EXPECTED schema explicitly: a zero-row
    partitionBy write leaves a directory with no part files, where
    schema inference would raise UNABLE_TO_INFER_SCHEMA — with the
    schema pinned, an empty bronze round-trips to an empty silver
    (matching last_day_table's empty-table contract), and non-empty
    reads skip footer-based inference too."""
    from pyspark.sql.types import DateType, StructField, StructType

    _pin_session_confs(spark)
    digest, target = _silver_target(sf_dir)
    bronze = load_table(spark, sf_dir, "events")
    if not os.path.isdir(target):
        _ensure_silver_root()
        tmp = f"{target}.tmp.{os.getpid()}"
        (
            bronze
            .withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, target)
        except OSError:
            # concurrent writer won the rename: keep theirs
            shutil.rmtree(tmp, ignore_errors=True)
        # evict silvers of older mtimes for this source; skip in-flight
        # '*.tmp.*' dirs — rmtree'ing a concurrent materializer's tmp
        # mid-write would fail ITS Spark job, breaking the benign-race
        # contract (same exclusion bucketed_orderkey_tables applies)
        for d in os.listdir(_SILVER_ROOT):
            if (d.startswith(f"ev_{digest}_")
                    and d != os.path.basename(target)
                    and ".tmp." not in d):
                shutil.rmtree(os.path.join(_SILVER_ROOT, d), ignore_errors=True)
    schema = StructType(
        list(bronze.schema.fields) + [StructField("event_date", DateType())]
    )
    return spark.read.schema(schema).parquet(target)


def bucketed_orderkey_tables(spark: SparkSession, sf_dir: str,
                             n_buckets: int = 8) -> tuple[str, str]:
    """Session-registered bucketed copies of orders and lineitem,
    hash-bucketed AND sorted by their order key — the layout that
    makes every orderkey equi-join (q3/q18/q21's fact-fact spine) an
    exchange-free sort-merge join.

    Materialization contract (same as the date-partitioned silver):
    the PARQUET is written at most once per source mtime — into a
    tmp dir, then atomically renamed, so concurrent sessions race
    benignly and readers never see partial files. A fresh session
    that finds the layout already on disk only REGISTERS it (an
    external CREATE TABLE ... CLUSTERED BY DDL — metadata only, no
    re-shuffle/rewrite). Stale-mtime layouts are evicted by scanning
    the layout ROOT on disk, not the session catalog, so a
    regenerated source cleans up layouts written by prior sessions
    too. Returns (orders_table_name, lineitem_table_name)."""
    from .scale import write_bucketed

    _pin_session_confs(spark)
    digest = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    names = []
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        mtime = _source_mtime(os.path.join(sf_dir, f"{tbl}.parquet"))
        name = f"{tbl}_bkt_{digest}_{mtime}"
        loc = os.path.join(_SILVER_ROOT, name)
        src = load_table(spark, sf_dir, tbl)
        if not os.path.isdir(loc):
            _ensure_silver_root()
            tmp_name = f"{name}_tmp{os.getpid()}"
            tmp_loc = f"{loc}.tmp.{os.getpid()}"
            write_bucketed(src, tmp_name, key, n_buckets, path=tmp_loc)
            # external table: dropping the entry keeps the files
            spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
            try:
                os.rename(tmp_loc, loc)
            except OSError:
                shutil.rmtree(tmp_loc, ignore_errors=True)
        if not spark.catalog.tableExists(name):
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in src.schema.fields
            )
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
            )
        for d in os.listdir(_SILVER_ROOT):
            if (d.startswith(f"{tbl}_bkt_{digest}_") and d != name
                    and ".tmp." not in d):
                spark.sql(f"DROP TABLE IF EXISTS {d}")
                shutil.rmtree(os.path.join(_SILVER_ROOT, d),
                              ignore_errors=True)
        names.append(name)
    return names[0], names[1]


def _blob_layout(spark: SparkSession, sf_dir: str, prefix: str,
                 make_df, schema, src_table: str = "documents",
                 partition_by: str | None = None) -> DataFrame:
    """Shared builder for MATERIALIZED blob layouts: parquet written
    once per (dataset, source mtime) under the silver root — the same
    atomic tmp+rename / stale-mtime-eviction contract as
    silver_events. Why layouts and not inline synthesis: in
    production the blobs ARE the stored input (nobody re-encodes
    their media per query) — a decode benchmark that synthesizes its
    corpus inside the timed query measures the Python *encoder*, not
    the engine. The write runs the parallel Arrow kernel once; later
    sessions just read parquet with the pinned schema.
    ``src_table`` names the source whose mtime keys the layout dir
    (documents for the media corpora, embeddings for fitted models)."""
    _pin_session_confs(spark)
    digest = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    mtime = _source_mtime(os.path.join(sf_dir, f"{src_table}.parquet"))
    target = os.path.join(_SILVER_ROOT, f"{prefix}_{digest}_{mtime}")
    if not os.path.isdir(target):
        _ensure_silver_root()
        tmp = f"{target}.tmp.{os.getpid()}"
        writer = make_df().write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tmp)
        try:
            os.rename(tmp, target)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
        for d in os.listdir(_SILVER_ROOT):
            if (d.startswith(f"{prefix}_{digest}_")
                    and d != os.path.basename(target)
                    and ".tmp." not in d):
                shutil.rmtree(os.path.join(_SILVER_ROOT, d),
                              ignore_errors=True)
    return spark.read.schema(schema).parquet(target)


def gif_blob_layout(spark: SparkSession, sf_dir: str,
                    interlace_odd: bool = False) -> DataFrame:
    """The GIF fixture corpus as a materialized (doc_id, payload)
    parquet (_blob_layout contract). ``interlace_odd`` gets its own
    dir ("gifi2_"): the mixed interlaced/sequential corpus for the
    de-interlace parity query. The "2" in the prefix is the FIXTURE
    version (growing-table LZW streams) — bumping it invalidates
    layouts encoded by an older build_gif, since the mtime key only
    tracks the source. length(text) > 0 mirrors the pixel-stats
    oracle's WHERE: its math divides by the text length, so empty
    docs get no blob on either engine."""
    from .multimodal import synthesize_gifs
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            spark,
        )
        return synthesize_gifs(docs, interlace_odd=interlace_odd)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    prefix = ("gifi2" if interlace_odd else "gif2")
    return _blob_layout(spark, sf_dir, prefix, make, schema).select(
        "doc_id", "payload"
    )


def jpeg_blob_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The baseline-JPEG fixture corpus as a materialized (doc_id,
    payload) parquet (_blob_layout contract, prefix jpg2 — the v2
    fixture bump gave odd doc_ids DRI restart intervals, mirroring
    the jpgc2 color fixtures): real
    DC-exact baseline JPEGs whose decoded pixels a SQL oracle can
    recompute (operators/multimodal.build_jpeg). length(text) > 0
    mirrors the stats oracle's WHERE — block values come from the
    text bytes, so empty docs get no blob on either engine."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .multimodal import synthesize_jpegs
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            spark,
        )
        return synthesize_jpegs(docs)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    return _blob_layout(spark, sf_dir, "jpg2", make, schema).select(
        "doc_id", "payload"
    )


def jpeg_color_blob_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-component (4:4:4) baseline-JPEG fixture corpus as a
    materialized (doc_id, payload) parquet (prefix jpgc2; fixture version bump — odd doc_ids carry DRI restarts) —
    build_jpeg_color's interleaved-MCU DC-exact fixtures, same
    contract as jpeg_blob_layout."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .multimodal import synthesize_color_jpegs
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            spark,
        )
        return synthesize_color_jpegs(docs)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    return _blob_layout(spark, sf_dir, "jpgc2", make, schema).select(
        "doc_id", "payload"
    )


def jpeg420_blob_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4:2:0 chroma-subsampled baseline-JPEG fixture corpus as a
    materialized (doc_id, payload) parquet (prefix jpg420_1) —
    build_jpeg_420's 6-block-MCU DC-exact fixtures, odd doc_ids with
    DRI restarts; same contract as jpeg_blob_layout."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .multimodal import synthesize_jpeg420s
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            spark,
        )
        return synthesize_jpeg420s(docs)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    return _blob_layout(spark, sf_dir, "jpg420_1", make, schema).select(
        "doc_id", "payload"
    )


def jpeg_progressive_blob_layout(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The PROGRESSIVE (SOF2) JPEG fixture corpus as a materialized
    (doc_id, payload) parquet (prefix jpgp1) —
    build_jpeg_progressive's seven-scan successive-approximation
    fixtures; same contract as jpeg_blob_layout."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .multimodal import synthesize_progressive_jpegs
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            spark,
        )
        return synthesize_progressive_jpegs(docs)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    return _blob_layout(spark, sf_dir, "jpgp1", make, schema).select(
        "doc_id", "payload"
    )


def png_interlaced_blob_layout(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The mixed Adam7/sequential PNG fixture corpus as a
    materialized (doc_id, payload) parquet (prefix pngi1) —
    synthesize_interlaced_pngs' parity mix (odd doc_ids interlaced);
    same contract as gif_blob_layout(interlace_odd=True)."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .multimodal import synthesize_interlaced_pngs
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            spark,
        )
        return synthesize_interlaced_pngs(docs)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    return _blob_layout(spark, sf_dir, "pngi1", make, schema).select(
        "doc_id", "payload"
    )


def rgb_png_blob_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RGB (color type 2) PNG fixture corpus as a materialized
    (doc_id, payload) parquet (prefix pngrgb1) —
    synthesize_rgb_pngs' channel-interleaved fixtures; same contract
    as jpeg_blob_layout (length(text) > 0 mirrors the stat oracles'
    WHERE)."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .multimodal import synthesize_rgb_pngs
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            spark,
        )
        return synthesize_rgb_pngs(docs)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    return _blob_layout(spark, sf_dir, "pngrgb1", make, schema).select(
        "doc_id", "payload"
    )


def media_blob_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PNG/WAV fixture corpus as a materialized (doc_id, payload,
    text_len) parquet (_blob_layout contract): even doc_ids are
    genuine PNGs, odd are PCM WAVs (synthesize_media's arithmetic
    derivation, which the header/stat oracles recompute). ALL docs
    get a blob — header decode is well-defined on empty content — and
    text_len rides along so the pixel/sample STAT queries can apply
    their empty-doc filter (their oracles divide by text length)
    without touching the documents table again."""
    from .multimodal import synthesize_media
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents"), spark
        )
        return synthesize_media(docs, with_len=True)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType()),
         StructField("text_len", LongType())]
    )
    return _blob_layout(spark, sf_dir, "media", make, schema)


def minhash_index_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash dedup INDEX as a materialized (doc_id, shingles,
    sig) parquet — what a production corpus stores columnar next to
    the documents (the operator docstrings' "at steady state the
    signatures are precomputed" made state, same _blob_layout
    contract: written once per documents mtime, prefix mhidx1).
    Signatures are deterministic functions of the text, so index-fed
    pipelines (minhash_near_dups_prepared) are value-identical to the
    in-plan form and share its oracle."""
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    from .dedup import minhash_signatures, shingle_sets
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents"), spark,
            cache_key=(sf_dir, "documents",
                       _source_mtime(os.path.join(sf_dir, "documents.parquet"))),
        )
        return minhash_signatures(shingle_sets(docs), keep_shingles=True)

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("shingles", ArrayType(StringType())),
        StructField("sig", ArrayType(LongType())),
    ])
    return _blob_layout(spark, sf_dir, "mhidx1", make, schema)


def winnow_fp_layout(spark: SparkSession, sf_dir: str, k: int = 20,
                     w: int = 8) -> DataFrame:
    """The winnowing span-dedup INDEX as a materialized (doc_id, fp)
    parquet — the exploded inverted-index-ready form (one row per
    distinct fingerprint per doc), written once per documents mtime
    (prefix ``wnidx2_<k>_<w>`` — r10 bumped the prefix when the
    hash family changed from per-gram md5 to the batched polynomial
    rolling hash, so stale r9 layouts can never feed index queries).
    Fingerprints are deterministic functions of the text, and
    deterministic, so index-fed span pipelines are value-identical to
    the in-plan winnow_fingerprints chain and share its oracle."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions.text import winnow_fingerprints
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents"), spark,
            cache_key=(sf_dir, "documents",
                       _source_mtime(os.path.join(sf_dir, "documents.parquet"))),
        )
        fps = winnow_fingerprints(docs, "doc_id", "text", k=k, w=w)
        return (
            fps.select("doc_id", F.explode_outer("fps").alias("fp"))
            .filter(F.col("fp").isNotNull())
        )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("fp", LongType()),
    ])
    return _blob_layout(spark, sf_dir, f"wnidx2_{k}_{w}", make, schema)


def kmeans_centroid_layout(spark: SparkSession, sf_dir: str, k: int = 16,
                           iters: int = 2, sample_mod: int = 2,
                           round_dp: int = 6) -> DataFrame:
    """The FITTED k-means codebook as a materialized (cent_id,
    cent_vec, cnrm) parquet — the _blob_layout contract applied to a
    MODEL instead of a blob corpus, keyed on the fit hyperparameters
    plus the embeddings source mtime (prefix ``kmc_<k>_<iters>_
    <sample_mod>_<round_dp>``; a regenerated source evicts stale fits
    exactly like the media layouts).

    Why: operators/similarity.kmeans_centroids is deliberately LAZY
    (the whole unrolled Lloyd fit lives in the plan so the oracle can
    replay it in SQL) — but lazy means every ACTION over a consuming
    query re-executes the fit. In production the codebook is fitted
    once and stored next to the inverted lists; this layout is that
    state. Values are EXACTLY the lazy fit's output (one untimed
    execution of the same plan; means are rounded to round_dp before
    the write and doubles round-trip parquet bit-exactly), so
    consuming queries keep their oracle hash parity: the SQL oracle
    unrolls the identical fit. The registered ``ann_ivf_kmeans_lazy``
    baseline keeps the in-plan form exercised."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    from .scale import widen_for_compute
    from .similarity import kmeans_centroids

    def make():
        emb = widen_for_compute(
            load_table(spark, sf_dir, "embeddings"), spark,
            cache_key=(sf_dir, "embeddings",
                       _source_mtime(os.path.join(sf_dir, "embeddings.parquet"))),
        )
        return kmeans_centroids(
            emb, k=k, iters=iters, sample_mod=sample_mod, round_dp=round_dp
        )

    schema = StructType([
        StructField("cent_id", LongType()),
        StructField("cent_vec", ArrayType(DoubleType())),
        StructField("cnrm", DoubleType()),
    ])
    prefix = f"kmc_{k}_{iters}_{sample_mod}_{round_dp}"
    return _blob_layout(spark, sf_dir, prefix, make, schema,
                        src_table="embeddings")


def ivf_assign_layout(spark: SparkSession, sf_dir: str,
                      n_assign: int = 2,
                      target_cell_rows: int = 64) -> DataFrame:
    """The IVF ASSIGNMENT INDEX as a materialized (vec_id, cell, rk,
    embedding, nrm) parquet — the inverted-list state a production
    ANN store maintains columnar at ingest (round-8 sibling of the
    r7 minhash/winnow indexes; same _blob_layout contract, keyed on
    the embeddings mtime, prefix ``ivfidx1_<n_assign>_<cell_rows>``).
    Assignments are a deterministic function of the corpus
    (operators/similarity.ivf_cell_assignments — centroid selection,
    cosine scoring, tie-break), and ints/floats/doubles round-trip
    parquet bit-exactly, so index-fed dedup (ivf_near_dups_prepared)
    is value-identical to the in-plan form and shares its oracle."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, FloatType, IntegerType, LongType,
        StructField, StructType,
    )

    from .scale import widen_for_compute
    from .similarity import ivf_cell_assignments

    def make():
        emb = widen_for_compute(
            load_table(spark, sf_dir, "embeddings"), spark,
            cache_key=(sf_dir, "embeddings",
                       _source_mtime(os.path.join(sf_dir, "embeddings.parquet"))),
        )
        return ivf_cell_assignments(
            emb, n_assign=n_assign, target_cell_rows=target_cell_rows
        )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("cell", LongType()),
        StructField("rk", IntegerType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("nrm", DoubleType()),
    ])
    prefix = f"ivfidx1_{n_assign}_{target_cell_rows}"
    return _blob_layout(spark, sf_dir, prefix, make, schema,
                        src_table="embeddings")


def ivf_quantized_layout(spark: SparkSession, sf_dir: str,
                         n_centroids: int = 16) -> DataFrame:
    """The QUANTIZED-IVF corpus as a materialized (vec_id, cell, q,
    mx, embedding, nrm) parquet — the int8 codes stored next to the
    inverted lists that ivf_ann_topk_quantized's docstring has always
    described as the deployed state (_blob_layout contract, keyed on
    the embeddings mtime, prefix ``ivfq1_<n_centroids>``). Codes,
    scales, and norms are deterministic and round-trip parquet
    bit-exactly, so the prepared search route shares the in-plan
    form's oracle."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, FloatType, LongType,
        StructField, StructType,
    )

    from .scale import widen_for_compute
    from .similarity import ivf_quantized_corpus

    def make():
        emb = widen_for_compute(
            load_table(spark, sf_dir, "embeddings"), spark,
            cache_key=(sf_dir, "embeddings",
                       _source_mtime(os.path.join(sf_dir, "embeddings.parquet"))),
        )
        return ivf_quantized_corpus(emb, n_centroids=n_centroids)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("cell", LongType()),
        # F.floor yields LONG elements — int8-range VALUES, stored as
        # the engine's native integer type (a real deployment would
        # pack tinyint; the dot stays exact either way)
        StructField("q", ArrayType(LongType())),
        StructField("mx", DoubleType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("nrm", DoubleType()),
    ])
    return _blob_layout(spark, sf_dir, f"ivfq1_{n_centroids}", make, schema,
                        src_table="embeddings")


def last_day_silver(spark: SparkSession, sf_dir: str,
                    days: int = 1) -> DataFrame:
    """The P2 daily window over the date-partitioned silver: the
    coarse ``event_date >= date(cutoff)`` literal reaches the scan as
    a PartitionFilter (directory pruning — the 100 TB win; pinned by
    tests/test_scale_ops.py::test_last_day_silver_partition_prunes)
    and the exact ``ts >= cutoff`` literal refines the boundary
    partition as a pushed/codegen'd row predicate. Anchor semantics
    are identical to last_day_table: the memoized µs-truncated
    max(ts) of the BRONZE table (one tiny ts-only aggregate, shared
    with every other windowed query)."""
    from .windows import table_anchor

    anchor = table_anchor(spark, sf_dir, "events")
    pt = silver_events(spark, sf_dir)
    if anchor is None:
        return pt.filter(F.lit(False)).drop("event_date")
    cutoff = anchor - _dt.timedelta(days=days)
    ts_lit = F.to_timestamp(F.lit(cutoff.strftime("%Y-%m-%d %H:%M:%S.%f")))
    return (
        pt.filter(
            (F.col("event_date") >= F.lit(cutoff.date().isoformat()).cast("date"))
            & (F.col("ts") >= ts_lit)
        ).drop("event_date")
    )


def jpeg12_blob_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 12-BIT extended-sequential JPEG fixture corpus as a
    materialized (doc_id, payload) parquet (prefix jpg12_1): real
    SOF1 frames with 16-bit DQTs and 16-category DC tables whose
    decoded uint16 pixels a SQL oracle can recompute
    (operators/multimodal.build_jpeg_12bit). Same empty-doc filter
    contract as jpeg_blob_layout."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .multimodal import synthesize_jpegs_12bit
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            spark,
        )
        return synthesize_jpegs_12bit(docs)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    return _blob_layout(spark, sf_dir, "jpg12_1", make, schema).select(
        "doc_id", "payload"
    )


def gif_anim_blob_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANIMATED-GIF fixture corpus as a materialized (doc_id,
    payload) parquet (prefix gifanim1): real multi-frame GIF89a
    animations (NETSCAPE loop + per-frame GCE + LZW streams) whose
    decoded frames a SQL oracle can recompute
    (operators/multimodal.build_gif_animated). Same empty-doc filter
    contract as the other media layouts."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .multimodal import synthesize_animated_gifs
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents").filter(
                F.length("text") > 0
            ),
            spark,
        )
        return synthesize_animated_gifs(docs)

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    return _blob_layout(spark, sf_dir, "gifanim1", make, schema).select(
        "doc_id", "payload"
    )


def cross_video_blob_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CROSS-CONTAINER video fixture corpus as a materialized
    (doc_id, payload) parquet (prefix ``vx1``): even docs MJPEG AVIs,
    odd docs GIF89a animations with IDENTICAL frame content derived
    from the even sibling's text (operators/avi.
    synthesize_cross_videos) — every (2k, 2k+1) pair a true
    cross-container twin, the video tier's analogue of
    flac_blob_layout's WAV/FLAC twins. The sibling text arrives via a
    self-join on sib_id = doc_id - doc_id % 2 (broadcast-eligible
    dimension-to-self join; at 100 TB this is the one-time fixture
    encode, keyed on the documents mtime like every layout here);
    rows whose sibling text is empty are filtered — the same
    nonempty contract as the other media layouts, applied to the
    CONTENT-bearing sibling."""
    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
    )

    from ..catalog import load_table
    from .avi import synthesize_cross_videos
    from .scale import widen_for_compute

    def make():
        docs = load_table(spark, sf_dir, "documents")
        sib = docs.select(
            F.col("doc_id").alias("sib_id"),
            F.col("text").alias("sib_text"),
        ).filter(F.length("sib_text") > 0)
        base = (
            docs.select("doc_id")
            .join(sib,
                  (F.col("doc_id") - F.col("doc_id") % 2)
                  == F.col("sib_id"))
            .select("doc_id", "sib_text")
        )
        return synthesize_cross_videos(widen_for_compute(
            base, spark,
            cache_key=(sf_dir, "crossvideo",
                       _source_mtime(os.path.join(sf_dir,
                                                  "documents.parquet"))),
        ))

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("payload", BinaryType())]
    )
    return _blob_layout(spark, sf_dir, "vx1", make, schema).select(
        "doc_id", "payload"
    )


def media_evidence_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEDIA content-evidence INDEX as a materialized (doc_id,
    hv, kind) parquet, PARTITIONED BY modality kind (prefix mevidx1):
    every modality's perceptual fingerprint decoded + hashed ONCE per
    documents mtime — ``phash`` = even docs' PNG dhash56, ``afp`` =
    odd docs' WAV audio_fp56, ``vframe`` = DISTINCT stride-2 sampled
    animation-frame dhash56 (one row per distinct frame hash per
    doc). This is the state a production media corpus stores columnar
    next to the blobs (a perceptual-hash index maintained at ingest);
    the keep/ensemble endpoints read one kind-partition each
    (directory pruning) instead of re-decoding LZW/Huffman streams
    per query — the media twin of minhash_index_layout /
    winnow_fp_layout. Hashes are deterministic functions of the
    fixture text, so index-fed pipelines share the in-plan forms'
    oracles (parity pinned by test_media_evidence_index_parity)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from .multimodal import audio_fingerprint, image_dhash, video_frame_hashes
    from .scale import widen_for_compute

    def make():
        mtime = _source_mtime(os.path.join(sf_dir, "documents.parquet"))
        media = widen_for_compute(
            media_blob_layout(spark, sf_dir).filter(F.col("text_len") > 0),
            spark, cache_key=(sf_dir, "_mevidx_media", mtime),
        )
        anim = widen_for_compute(
            gif_anim_blob_layout(spark, sf_dir),
            spark, cache_key=(sf_dir, "_mevidx_anim", mtime),
        )
        ih = (
            image_dhash(media.filter(F.col("doc_id") % 2 == 0)
                        .select("doc_id", "payload"))
            .filter(F.col("phash").isNotNull())
            .select("doc_id", F.col("phash").alias("hv"),
                    F.lit("phash").alias("kind"))
        )
        ah = (
            audio_fingerprint(media.filter(F.col("doc_id") % 2 == 1)
                              .select("doc_id", "payload"))
            .filter(F.col("afp").isNotNull())
            .select("doc_id", F.col("afp").alias("hv"),
                    F.lit("afp").alias("kind"))
        )
        vh = (
            video_frame_hashes(anim, stride=2)
            .select("doc_id", F.col("fhash").alias("hv"))
            .distinct()
            .select("doc_id", "hv", F.lit("vframe").alias("kind"))
        )
        return ih.unionByName(ah).unionByName(vh)

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("hv", LongType()),
        StructField("kind", StringType()),
    ])
    return _blob_layout(spark, sf_dir, "mevidx1", make, schema,
                        partition_by="kind")


def pq_codebook_layout(spark: SparkSession, sf_dir: str, m: int = 8,
                       sub: int = 8, ks: int = 16) -> DataFrame:
    """The FITTED product-quantization codebooks as a materialized
    (j, cid, cv) parquet (prefix ``pqcb1_<m>_<ks>``) — the same
    model-layout contract as kmeans_centroid_layout: fitted once per
    embeddings mtime, values EXACTLY the lazy
    operators/similarity.pq_codebooks output (rounded means
    round-trip parquet bit-exactly), so consuming queries keep oracle
    hash parity with the SQL-unrolled fit."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StructField, StructType,
    )

    from .scale import widen_for_compute
    from .similarity import pq_codebooks

    def make():
        emb = widen_for_compute(
            load_table(spark, sf_dir, "embeddings"), spark,
            cache_key=(sf_dir, "embeddings",
                       _source_mtime(os.path.join(sf_dir, "embeddings.parquet"))),
        )
        return pq_codebooks(emb, m=m, sub=sub, ks=ks)

    schema = StructType([
        StructField("j", IntegerType()),
        StructField("cid", LongType()),
        StructField("cv", ArrayType(DoubleType())),
    ])
    return _blob_layout(spark, sf_dir, f"pqcb1_{m}_{ks}", make, schema,
                        src_table="embeddings")


def pq_code_layout(spark: SparkSession, sf_dir: str, m: int = 8,
                   sub: int = 8, ks: int = 16) -> DataFrame:
    """The PQ-ENCODED corpus as a materialized (vec_id, codes, nrm)
    parquet (prefix ``pqcode1_<m>_<ks>``) — m small ints + one double
    per vector, the ~32x-narrower relation a deployed PQ store scans
    for ADC; built from pq_codebook_layout so the codes and the
    stored codebooks always come from the same fit. Codes are
    deterministic functions of the corpus, so ADC queries reading
    this layout share the in-plan form's oracle."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StructField, StructType,
    )

    from .scale import widen_for_compute
    from .similarity import pq_codes

    def make():
        emb = widen_for_compute(
            load_table(spark, sf_dir, "embeddings"), spark,
            cache_key=(sf_dir, "embeddings",
                       _source_mtime(os.path.join(sf_dir, "embeddings.parquet"))),
        )
        return pq_codes(emb, pq_codebook_layout(spark, sf_dir, m=m,
                                                sub=sub, ks=ks),
                        m=m, sub=sub)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("codes", ArrayType(IntegerType())),
        StructField("nrm", DoubleType()),
    ])
    return _blob_layout(spark, sf_dir, f"pqcode1_{m}_{ks}", make, schema,
                        src_table="embeddings")


def ivf_pq_layout(spark: SparkSession, sf_dir: str, m: int = 8,
                  sub: int = 8, ks: int = 16,
                  n_centroids: int = 16) -> DataFrame:
    """The COMPOSED IVF+PQ store as a materialized (vec_id, cell,
    codes, nrm) parquet (prefix ``ivfpq2_<m>_<ks>_<n_centroids>``) —
    PQ codes stored WITH their inverted-list cell, exactly what a
    deployed billion-scale ANN keeps columnar (codes-next-to-lists;
    Jégou et al.'s IVFADC memory layout). Codes + norms come from the
    materialized pq_code_layout; the cell comes from the TWO-LEVEL
    quantizer (round 13: operators/similarity.ivf_assign_with_model
    with coarse_probe=2 — O(sqrt(k)) assignment dots per row, block
    broadcasts, the same hierarchy every hierarchical-IVF oracle
    replays via _ivf_2l_assign_sql). Prefix bumped from ``ivfpq1``
    when the assignment rule changed so stale flat-assigned caches
    can never satisfy a hierarchical read. Deterministic, so
    ann_ivf_pq reading this layout shares the in-plan form's oracle
    (ann_ivf_pq_lazy proves the equality)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StructField, StructType,
    )

    def make():
        from .similarity import _with_norm, ivf_assign_with_model

        emb = load_table(spark, sf_dir, "embeddings")
        cents = _with_norm(
            emb.filter(F.col("vec_id") < n_centroids).select(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cent_vec"),
            ),
            "cent_vec", "cnrm",
        )
        cells = ivf_assign_with_model(
            emb, cents, n_assign=1, coarse_probe=2
        ).select("vec_id", "cell")
        codes = pq_code_layout(spark, sf_dir, m=m, sub=sub, ks=ks)
        return codes.join(cells, "vec_id").select(
            "vec_id", "cell", "codes", "nrm"
        )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("cell", LongType()),
        StructField("codes", ArrayType(IntegerType())),
        StructField("nrm", DoubleType()),
    ])
    return _blob_layout(spark, sf_dir, f"ivfpq2_{m}_{ks}_{n_centroids}",
                        make, schema, src_table="embeddings")


def dedup_edge_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL FIVE dedup pair-evidence relations materialized as one
    (signal, id_a, id_b) parquet, partitioned by signal (prefix
    ``dedg1``) — the state a production curator maintains at ingest
    on top of the fingerprint indexes: near-dup EDGES are
    deterministic functions of the minhash/winnow/media indexes (and
    hence of the documents mtime this layout is keyed on), so keeping
    them columnar turns every keep endpoint into edge-scan → CC →
    corpus join with zero per-run evidence recompute (the r10 verdict
    item: "cache the per-signal star-edge relations ... so all three
    keep queries reuse one CC input"). Signals:

    - ``mh``  — verified-jaccard >= 0.6 MinHash near-dup pairs
    - ``wn``  — winnowing shared-span COMPONENT edges (>= 2 shared
      capped fps pairs + over-cap min-doc stars — round 12; the
      retraction semantics collapsed keep recall on viral clusters,
      see operators/dedup.winnow_component_edges)
    - ``iph`` — image perceptual-hash COMPONENT edges (rep stars +
      fused-kernel ball stars — component-equivalent, node-linear)
    - ``afp`` — audio fingerprint component edges (same operator)
    - ``vfr`` — shared-sampled-frame video COMPONENT edges (same
      pair + over-cap star semantics as ``wn``)

    Directory pruning per signal (PartitionFilters), and every
    consumer shares the in-plan form's oracle because each edge
    relation is value-identical to its in-plan derivation — the same
    determinism contract as every other layout here. The evidence
    pipelines themselves stay benched under their query names
    (dedup_minhash_lsh_indexed, dedup_substring_winnow, the media
    pair benches) and the from-index keep route stays registered as
    dedup_corpus_keep_fromindex.

    ALL FIVE partitions have proven per-shard deltas (round 12, so
    "maintained at ingest" is an operation, not a premise): wn/vfr
    via the fused winnow count + star-state deltas
    (operators/dedup.winnow_edges_apply_delta /
    winnow_star_state_apply_delta — dedup_edge_maintenance_winnow /
    _vframe), mh via the banded emission-count delta
    (lsh_counts_apply_delta — dedup_edge_maintenance_minhash), and
    iph/afp via the additive Hamming-ball delta
    (phash_edges_apply_delta — dedup_edge_maintenance_phash /
    _audio); streaming/maintenance.py runs the wn delta per
    micro-batch with versioned commits."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    def make():
        # Deferred import: plans.extensions imports this module at
        # call time inside query bodies, so importing it lazily here
        # (both modules are fully loaded by the time make() runs)
        # breaks no cycle.
        from .dedup import (
            minhash_near_dups_prepared,
            phash_component_edges,
            winnow_component_edges,
        )

        mh = minhash_near_dups_prepared(
            minhash_index_layout(spark, sf_dir), threshold=0.6
        ).select("id_a", "id_b")
        wn = winnow_component_edges(winnow_fp_layout(spark, sf_dir))
        midx = media_evidence_layout(spark, sf_dir)
        iph = phash_component_edges(
            midx.filter(F.col("kind") == "phash")
            .select("doc_id", F.col("hv").alias("phash")),
            max_hamming=3,
        )
        afp = phash_component_edges(
            midx.filter(F.col("kind") == "afp")
            .select("doc_id", F.col("hv").alias("afp")),
            max_hamming=3, hash_col="afp",
        )
        vfr = winnow_component_edges(
            midx.filter(F.col("kind") == "vframe")
            .select("doc_id", F.col("hv").alias("fp"))
        )
        tagged = [
            (mh, "mh"), (wn, "wn"), (iph, "iph"), (afp, "afp"),
            (vfr, "vfr"),
        ]
        out = None
        for df, sig in tagged:
            t = df.select(F.lit(sig).alias("signal"), "id_a", "id_b")
            out = t if out is None else out.unionByName(t)
        return out

    schema = StructType([
        StructField("signal", StringType()),
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
    ])
    # dedg2 (round 12): wn/vfr switched from pair retraction to
    # component edges (over-cap stars) — new prefix so a cached dedg1
    # from the old semantics can never serve the new consumers.
    return _blob_layout(spark, sf_dir, "dedg2", make, schema,
                        partition_by="signal")


def flac_blob_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAC fixture corpus as a materialized (doc_id, payload,
    text_len) parquet (_blob_layout contract, prefix ``flac1``): the
    odd-doc_id audio population with the SAME channel/rate/PCM
    derivation as the WAV branch of media_blob_layout, FLAC-encoded —
    each row a true cross-container twin of its WAV sibling (see
    operators/multimodal.synthesize_flac_media). The Rice/fixed-
    predictor ENCODE runs once per documents mtime here; queries
    bench the decode."""
    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
    )

    from ..catalog import load_table
    from .multimodal import synthesize_flac_media
    from .scale import widen_for_compute

    def make():
        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents"), spark,
            cache_key=(sf_dir, "documents",
                       _source_mtime(os.path.join(sf_dir, "documents.parquet"))),
        ).filter(F.col("doc_id") % 2 == 1)
        return synthesize_flac_media(docs)

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("text_len", LongType()),
    ])
    return _blob_layout(spark, sf_dir, "flac1", make, schema)


def _bucketed_state_layout(spark: SparkSession, sf_dir: str, prefix: str,
                           make_df, schema, keys: tuple[str, ...],
                           n_buckets: int = 32,
                           src_table: str = "documents") -> DataFrame:
    """A maintained-state relation materialized as a BUCKETED+SORTED
    session table (round 14, guide §6 — the r13 verdict's stored-
    counts item): hash-bucketed and sorted by ``keys`` so the per-
    batch maintenance merge (stored FULL OUTER JOIN shard delta on
    ``keys``) reads the stored side pre-partitioned — the Exchange
    that previously reshuffled the ENTIRE stored relation per batch
    disappears; only the shard-sized delta is shuffled (into
    ``n_buckets`` partitions to match). The frame is repartitioned by
    the bucket keys before the write so each bucket is ONE file and
    the scan also reports the sort order (no re-sort leg).

    Same materialization contract as bucketed_orderkey_tables: parquet
    written at most once per (dataset, source mtime) into a tmp dir +
    atomic rename; a fresh session that finds the layout on disk only
    REGISTERS the external CLUSTERED BY DDL (metadata only); stale-
    mtime layouts are evicted from disk, not just the catalog.

    ``n_buckets`` must be >= the session's shuffle width for the
    anchor to hold: when both merge children satisfy the join's
    clustering, the planner keeps the child with MORE partitions
    exchange-free and reshuffles the other — a store bucketed below
    the shuffle width loses that contest to the delta aggregate and
    gets reshuffled itself (measured: 8 buckets vs 32 shuffle
    partitions re-exchanged the store; 32 buckets plan exchange-free
    on the stored leg at both 8- and 32-wide sessions). The default
    (32) covers the bench sessions; at 100 TB size it so one bucket
    fits a task (thousands of buckets — the same rule write_bucketed
    documents), which also keeps it far above any session width. The
    bucket count is part of the layout dir name, so a changed
    parameter writes a fresh layout."""
    from .scale import write_bucketed

    _pin_session_confs(spark)
    digest = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    mtime = _source_mtime(os.path.join(sf_dir, f"{src_table}.parquet"))
    name = f"{prefix}{n_buckets}_{digest}_{mtime}"
    loc = os.path.join(_SILVER_ROOT, name)
    if not os.path.isdir(loc):
        _ensure_silver_root()
        tmp_name = f"{name}_tmp{os.getpid()}"
        tmp_loc = f"{loc}.tmp.{os.getpid()}"
        df = make_df().repartition(n_buckets, *[F.col(k) for k in keys])
        write_bucketed(df, tmp_name, list(keys), n_buckets, path=tmp_loc)
        spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
        try:
            os.rename(tmp_loc, loc)
        except OSError:
            shutil.rmtree(tmp_loc, ignore_errors=True)
    if not spark.catalog.tableExists(name):
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        )
        key_list = ", ".join(keys)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({key_list}) SORTED BY ({key_list}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
    for d in os.listdir(_SILVER_ROOT):
        if (d.startswith(f"{prefix}{n_buckets}_{digest}_") and d != name
                and ".tmp." not in d):
            spark.sql(f"DROP TABLE IF EXISTS {d}")
            shutil.rmtree(os.path.join(_SILVER_ROOT, d), ignore_errors=True)
    return spark.table(name)


def minhash_emission_count_layout(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The STORED MinHash candidate-emission state for the round-12
    edge-maintenance demonstration (prefix ``mhedge90k32``): per-pair
    (n_pair, n_star) emission counts over banded LSH buckets
    (operators/dedup.lsh_emission_counts — the delta-able form of the
    edge layout's ``mh`` candidates) for the 90% existing-corpus
    split (doc_id % 10 != 0); the remaining 10% plays the arriving
    shard in dedup_edge_maintenance_minhash. Materialized for the
    same reason as winnow_edge_count_layout: stored counts ARE the
    operator's premise. Deterministic function of the signature
    index, so the consuming query keeps the full-rebuild oracle."""
    from pyspark.sql.types import LongType, StructField, StructType

    def make():
        from .dedup import lsh_emission_counts

        return lsh_emission_counts(
            minhash_index_layout(spark, sf_dir)
            .filter(F.col("doc_id") % 10 != 0)
            .select("doc_id", "sig")
        )

    schema = StructType([
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("n_pair", LongType()),
        StructField("n_star", LongType()),
    ])
    # Round 14: bucketed by the pair key — see winnow_edge_count_layout.
    return _bucketed_state_layout(spark, sf_dir, "mhedge90k", make,
                                  schema, keys=("id_a", "id_b"))


def winnow_star_state_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED per-fingerprint occupancy state for the round-12
    star-maintenance demonstration (prefix ``wnstar90``): (fp, c,
    rep) over the 90% existing-corpus split
    (operators/dedup.winnow_star_state — the delta-able form of the
    over-cap star edges the component-consuming keep endpoints read
    since the cap-star change). Same stored-state premise as
    winnow_edge_count_layout; deterministic function of the winnow
    index, so the consuming query keeps the full-rebuild oracle."""
    from pyspark.sql.types import LongType, StructField, StructType

    def make():
        from .dedup import winnow_star_state

        return winnow_star_state(
            winnow_fp_layout(spark, sf_dir).filter(
                F.col("doc_id") % 10 != 0)
        )

    schema = StructType([
        StructField("fp", LongType()),
        StructField("c", LongType()),
        StructField("rep", LongType()),
    ])
    return _blob_layout(spark, sf_dir, "wnstar90", make, schema)


def winnow_edge_count_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED winnow pair-count state for the edge-maintenance
    demonstration (prefix ``wnedge90k32``): per-pair shared-fingerprint
    counts (operators/dedup.winnow_edge_counts — the delta-able form
    of the edge layout's ``wn`` partition) over the 90% existing-
    corpus split the maintenance query's scenario fixes (doc_id % 10
    != 0; the remaining 10% plays the arriving shard). Materialized
    because stored counts ARE the operator's premise — a production
    curator keeps this relation columnar and updates it per shard
    (winnow_edges_apply_delta); deriving it in-plan per run would
    bench the rebuild the delta exists to avoid. Deterministic
    function of the winnow index, so the consuming query keeps the
    full-rebuild oracle."""
    from pyspark.sql.types import LongType, StructField, StructType

    def make():
        from .dedup import winnow_edge_counts

        return winnow_edge_counts(
            winnow_fp_layout(spark, sf_dir).filter(
                F.col("doc_id") % 10 != 0)
        )

    schema = StructType([
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("n", LongType()),
    ])
    # Round 14: stored as a BUCKETED table keyed (id_a, id_b) so the
    # per-shard merge never reshuffles the stored relation (guide §6;
    # prefix bumped wnedge90 -> wnedge90k so stale plain layouts are
    # never read as bucketed).
    return _bucketed_state_layout(spark, sf_dir, "wnedge90k", make,
                                  schema, keys=("id_a", "id_b"))


def media_edge90_layout(spark: SparkSession, sf_dir: str,
                        kind: str) -> DataFrame:
    """The STORED Hamming-ball component-edge state for the round-12
    media edge-maintenance demonstrations (prefix ``<kind>edge90``):
    phash_component_edges over the 90% existing-corpus split of the
    media evidence index's ``kind`` partition (doc_id % 10 != 0; the
    remaining 10% plays the arriving shard in
    dedup_edge_maintenance_phash/_audio). Same stored-state premise
    as winnow_edge_count_layout — the edge relation IS what a
    production media store keeps columnar (dedup_edge_layout's
    iph/afp partitions) and updates per shard
    (operators/dedup.phash_edges_apply_delta). Deterministic function
    of the evidence index, so the consuming queries keep the keep
    endpoints' full-rebuild oracles."""
    from pyspark.sql.types import LongType, StructField, StructType

    def make():
        from .dedup import phash_component_edges

        return phash_component_edges(
            media_evidence_layout(spark, sf_dir)
            .filter((F.col("kind") == kind) & (F.col("doc_id") % 10 != 0))
            .select("doc_id", F.col("hv").alias("phash"))
        )

    schema = StructType([
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
    ])
    return _blob_layout(spark, sf_dir, f"{kind}edge90", make, schema)


def media_rep90_layout(spark: SparkSession, sf_dir: str,
                       kind: str) -> DataFrame:
    """The STORED per-hash representative table (hv, rep_id) for the
    media edge-maintenance demonstrations (prefix ``<kind>rep90``):
    minimum doc id per distinct hash over the 90% existing-corpus
    split of the evidence index's ``kind`` partition — the second
    half of the Hamming-ball maintenance state (the table
    phash_edges_apply_delta attaches exact-dup arrivals to and bands
    for the touched-ball probe; maintained per shard by
    phash_reps_apply_delta's least-merge)."""
    from pyspark.sql.types import LongType, StructField, StructType

    def make():
        return (
            media_evidence_layout(spark, sf_dir)
            .filter((F.col("kind") == kind) & (F.col("doc_id") % 10 != 0))
            .groupBy(F.col("hv"))
            .agg(F.min("doc_id").alias("rep_id"))
        )

    schema = StructType([
        StructField("hv", LongType()),
        StructField("rep_id", LongType()),
    ])
    return _blob_layout(spark, sf_dir, f"{kind}rep90", make, schema)


def vframe_edge_count_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED video-frame pair-count state for the round-12
    vframe edge-maintenance demonstration (prefix ``vfredge90k32``):
    winnow_edge_counts over the 90% split of the evidence index's
    ``vframe`` partition — the video signal shares the winnow
    bucket-evidence shape ((doc_id, fp) inverted index, hub-capped
    emit), so its maintained state and delta operators are the
    winnow ones verbatim; only the index differs."""
    from pyspark.sql.types import LongType, StructField, StructType

    def make():
        from .dedup import winnow_edge_counts

        return winnow_edge_counts(
            media_evidence_layout(spark, sf_dir)
            .filter((F.col("kind") == "vframe") & (F.col("doc_id") % 10 != 0))
            .select("doc_id", F.col("hv").alias("fp"))
        )

    schema = StructType([
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("n", LongType()),
    ])
    # Round 14: bucketed by the pair key — see winnow_edge_count_layout.
    return _bucketed_state_layout(spark, sf_dir, "vfredge90k", make,
                                  schema, keys=("id_a", "id_b"))


def vframe_star_state_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED video-frame occupancy state for the round-12 vframe
    edge-maintenance demonstration (prefix ``vfrstar90``): per-frame
    (fp, c, rep) over the 90% split — winnow_star_state on the
    vframe index, from which the over-cap star edges (the cap-star
    semantics that fixed the viral-cluster recall collapse this
    round) derive at read."""
    from pyspark.sql.types import LongType, StructField, StructType

    def make():
        from .dedup import winnow_star_state

        return winnow_star_state(
            media_evidence_layout(spark, sf_dir)
            .filter((F.col("kind") == "vframe") & (F.col("doc_id") % 10 != 0))
            .select("doc_id", F.col("hv").alias("fp"))
        )

    schema = StructType([
        StructField("fp", LongType()),
        StructField("c", LongType()),
        StructField("rep", LongType()),
    ])
    return _blob_layout(spark, sf_dir, "vfrstar90", make, schema)


def ivf_cent90_layout(spark: SparkSession, sf_dir: str,
                      target_cell_rows: int = 64) -> DataFrame:
    """The FROZEN IVF centroid model for the round-12 ANN index
    maintenance demonstration (prefix ``ivfcent90``): the centroid
    selection ivf_cell_assignments makes — k = max(4, ceil(n /
    target_cell_rows)) lowest-vec_id vectors with their norms — over
    the 90% existing-corpus split (vec_id % 10 != 0). This is the
    versioned MODEL state a production ANN store pins between
    refits; the arriving shard encodes against it
    (operators/similarity.ivf_assign_apply_delta) instead of
    triggering a re-selection. The blob prefix is keyed by
    ``target_cell_rows`` so a non-default budget fits (and caches)
    its own model rather than silently reading the 64-row one."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, FloatType, LongType, StructField,
        StructType,
    )

    def make():
        from .similarity import _with_norm

        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 10 != 0)
        k_row = emb.agg(
            F.greatest(
                F.lit(4).cast("long"),
                F.ceil(
                    F.count(F.lit(1)) / F.lit(float(target_cell_rows))
                ).cast("long"),
            ).alias("_nc")
        )
        return _with_norm(
            emb.join(F.broadcast(k_row))
            .filter(F.col("vec_id") < F.col("_nc"))
            .select(F.col("vec_id").alias("cent_id"),
                    F.col("embedding").alias("cent_vec")),
            "cent_vec", "cnrm",
        )

    schema = StructType([
        StructField("cent_id", LongType()),
        StructField("cent_vec", ArrayType(FloatType())),
        StructField("cnrm", DoubleType()),
    ])
    return _blob_layout(spark, sf_dir, f"ivfcent90_{target_cell_rows}",
                        make, schema, src_table="embeddings")


def ivf_assign90_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED inverted-list state for the IVF maintenance
    demonstration (prefix ``ivfassign90b``): the 90% corpus encoded
    under the frozen 90% centroid model (ivf_cent90_layout) via the
    TWO-LEVEL quantizer (coarse_probe=2, round 13 — per-row encode
    cost O(sqrt(k)) instead of O(k), per-coarse-cell block broadcast
    instead of the one-row mega-model) — what a production store
    holds when the 10% shard arrives. The prefix bumped from
    ``ivfassign90`` when the assignment rule changed so stale flat
    caches can never satisfy a hierarchical read."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, FloatType, IntegerType, LongType,
        StructField, StructType,
    )

    def make():
        from .similarity import ivf_assign_with_model

        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 10 != 0)
        return ivf_assign_with_model(
            emb, ivf_cent90_layout(spark, sf_dir), n_assign=2,
            coarse_probe=2)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("cell", LongType()),
        StructField("rk", IntegerType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("nrm", DoubleType()),
    ])
    return _blob_layout(spark, sf_dir, "ivfassign90b", make, schema,
                        src_table="embeddings")


def pq_codebook90_layout(spark: SparkSession, sf_dir: str, m: int = 8,
                         sub: int = 8, ks: int = 16) -> DataFrame:
    """The FROZEN PQ codebooks for the round-12 maintenance
    demonstration (prefix ``pqcb90``): pq_codebooks' deterministic
    fit over the 90% existing-corpus split — the even-vec_id
    training sample and the vec_id < ks init both restricted to the
    stored corpus, exactly what a production fit saw before the
    shard existed."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StructField,
        StructType,
    )

    def make():
        from .similarity import pq_codebooks

        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 10 != 0)
        return pq_codebooks(emb, m=m, sub=sub, ks=ks)

    schema = StructType([
        StructField("j", IntegerType()),
        StructField("cid", LongType()),
        StructField("cv", ArrayType(DoubleType())),
    ])
    return _blob_layout(spark, sf_dir, f"pqcb90_{m}_{ks}", make, schema,
                        src_table="embeddings")


def pq_code90_layout(spark: SparkSession, sf_dir: str, m: int = 8,
                     sub: int = 8, ks: int = 16) -> DataFrame:
    """The STORED PQ code corpus for the maintenance demonstration
    (prefix ``pqcode90``): the 90% corpus encoded under the frozen
    90% codebooks (pq_codebook90_layout)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StructField,
        StructType,
    )

    def make():
        from .similarity import pq_codes

        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 10 != 0)
        return pq_codes(
            emb, pq_codebook90_layout(spark, sf_dir, m=m, sub=sub, ks=ks),
            m=m, sub=sub)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("codes", ArrayType(IntegerType())),
        StructField("nrm", DoubleType()),
    ])
    return _blob_layout(spark, sf_dir, f"pqcode90_{m}_{ks}", make, schema,
                        src_table="embeddings")


def dsir_count_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR hashed-gram count relation as a materialized
    (doc_id, _t, bk, c) parquet (prefix ``dsircnt1``) — the
    one-gram-pass aggregate (operators/selection.dsir_bucket_counts,
    target = the ``source = 'src0'`` exemplar slice) that both the
    distribution fit and the per-doc scoring derive from. This is
    the state a production selection pipeline keeps columnar next to
    the text (the md5-per-gram pass is the expensive stage — paid
    once per documents mtime here, at ingest in production), the
    DSIR twin of the minhash/winnow fingerprint indexes.
    Deterministic function of the corpus, so layout-fed routes share
    the in-plan forms' oracles."""
    from pyspark.sql.types import (
        BooleanType, LongType, StructField, StructType,
    )

    def make():
        from .scale import widen_for_compute
        from .selection import dsir_bucket_counts

        docs = widen_for_compute(
            load_table(spark, sf_dir, "documents"), spark,
            cache_key=(sf_dir, "documents",
                       _source_mtime(os.path.join(sf_dir,
                                                  "documents.parquet"))),
        )
        return dsir_bucket_counts(docs, F.col("source") == "src0")

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("_t", BooleanType()),
        StructField("bk", LongType()),
        StructField("c", LongType()),
    ])
    return _blob_layout(spark, sf_dir, "dsircnt1", make, schema)


def dsir_model_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted DSIR log-ratio MODEL as a materialized (bk, lv)
    parquet (prefix ``dsirlr1``): B rows of 6-dp-rounded smoothed
    log-probability ratios derived from the count layout — versioned
    model state in the kmeans-centroid / PQ-codebook mold (rounded
    doubles round-trip parquet bit-exactly, so layout-fed scoring is
    value-identical to the in-plan fit)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    def make():
        from .selection import dsir_logratio

        return dsir_logratio(dsir_count_layout(spark, sf_dir))

    schema = StructType([
        StructField("bk", LongType()),
        StructField("lv", DoubleType()),
    ])
    return _blob_layout(spark, sf_dir, "dsirlr1", make, schema)


def _two_level_layout(spark: SparkSession, sf_dir: str, cents_fn,
                      prefix: str, vec_elem) -> DataFrame:
    """The TWO-LEVEL IVF quantizer hierarchy as materialized parquet
    (rounds 13-14): the ONE-ROW folded model (_coarse, _blkmap) under
    ``<prefix>m`` — the sorted m = ceil(sqrt(k)) coarse struct array
    plus the per-coarse-cell fine blocks as a ccell→blk map, exactly as
    operators/similarity.two_level_folded_row folds what
    two_level_model derives from a fine centroid frame. The hierarchy
    is pure MODEL state (a deterministic function of the stored
    centroids), so production stores it next to the centroid layout
    instead of re-deriving it inside every encode plan; the layout is
    one execution of the in-plan derivation written to parquet
    (longs/doubles/floats round-trip bit-exactly), so layout-fed
    assignment is value-identical and every consumer keeps its oracle
    (guide §1.2 step 1 — the encode's broadcast build is one tiny
    parquet scan instead of a model-sized window + two aggregations
    + a join per query action). ``vec_elem`` pins the stored cent_vec
    element type to the source model's (float for raw-embedding
    centroids, double for fitted means)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, MapType, StructField, StructType,
    )

    from .similarity import two_level_folded_row, two_level_model

    cent_t = StructType([
        StructField("cent_id", LongType()),
        StructField("cent_vec", ArrayType(vec_elem)),
        StructField("cnrm", DoubleType()),
    ])
    folded_schema = StructType([
        StructField("_coarse", ArrayType(cent_t)),
        StructField("_blkmap", MapType(LongType(), ArrayType(cent_t))),
    ])
    return _blob_layout(spark, sf_dir, f"{prefix}m",
                        lambda: two_level_folded_row(
                            *two_level_model(cents_fn())),
                        folded_schema, src_table="embeddings")


def kmeans_two_level_layout(spark: SparkSession, sf_dir: str, k: int = 16,
                            iters: int = 2, sample_mod: int = 2,
                            round_dp: int = 6) -> DataFrame:
    """Two-level hierarchy over the fitted k-means codebook
    (kmeans_centroid_layout) — the stored model ann_ivf_kmeans
    assigns under (prefix ``tl1kmc_…``, keyed like the codebook)."""
    from pyspark.sql.types import DoubleType

    return _two_level_layout(
        spark, sf_dir,
        lambda: kmeans_centroid_layout(spark, sf_dir, k=k, iters=iters,
                                       sample_mod=sample_mod,
                                       round_dp=round_dp),
        f"tl1kmc_{k}_{iters}_{sample_mod}_{round_dp}", DoubleType(),
    )


def cent90_two_level_layout(spark: SparkSession, sf_dir: str,
                            target_cell_rows: int = 64) -> DataFrame:
    """Two-level hierarchy over the frozen 90%-corpus centroid model
    (ivf_cent90_layout) — the stored model the ANN index maintenance
    shard encodes under (prefix ``tl1c90_…``)."""
    from pyspark.sql.types import FloatType

    return _two_level_layout(
        spark, sf_dir,
        lambda: ivf_cent90_layout(spark, sf_dir,
                                  target_cell_rows=target_cell_rows),
        f"tl1c90_{target_cell_rows}", FloatType(),
    )
