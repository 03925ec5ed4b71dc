package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps._
import graft.operators.{Dedup, Events, KMeans, Multimodal, Profiling, Quality, Quantiles, Retrieval, Similarity, TextAnalysis}
import graft.operators.KMeans.Centroid

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * each paired (where ANSI-SQL-expressible) with a DuckDB oracle over the
  * same parquet tables.
  *
  * ORACLE-EXACTNESS RULES (see VectorOps.sumFx): aggregates over non-integral
  * doubles go through fixed-point integer sums so float summation order can
  * never flip a hash compare; per-row rounded outputs are emitted as
  * fixed-point BIGINT columns; all other double outputs are derived from
  * bit-identical inputs by identical IEEE op sequences. Integer outputs are
  * always BIGINT on both sides.
  */
object SparkEntry {

  /** Flagship: full k-means fit (seed → Lloyd loop → assignment) on the
    * 64-dim embeddings table at sf0.001; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val fit = embFit(spark, dir)
    KMeans.assign(Tables.yhEmbeddings(spark, dir), fit.centroids)
      .select(col("i").as("vec_id"), col("j"))
  }

  // ---------------------------------------------------------------- helpers

  /** Deterministic fixed centroid set shared by the component-operator
    * oracles: the 4 lowest-key points of the orders-YH binding, j = 1..4.
    */
  private def c4(spark: SparkSession, dir: String): Seq[Centroid] =
    KMeans.seedFirstK(Tables.yhOrders(spark, dir), 4)

  /** Multi-line doc synthesis for the line-level operators: the single-line
    * fixture text becomes the middle line between a deterministic header
    * (3 variants by doc_id) and a footer every doc shares — mirrored by
    * [[OracleSql.textBoilerplate]]/[[OracleSql.dedupParagraph]]'s CTE.
    */
  private def mlDocs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents").select(col("doc_id"), concat(
      lit("corpus header v"), (col("doc_id") % 3).cast("string"), lit("\n"),
      col("text"), lit("\n"),
      lit("footer all rights reserved")).as("text"))

  /** Cache key for per-dir memoization: the dir plus a cheap content
    * fingerprint (parquet file names, sizes, mtimes), so data rewritten under
    * the same path within one JVM's lifetime invalidates the entry instead of
    * serving stale results.
    */
  private def dirKey(dir: String): String = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.sortBy(_.getName)
      .map(f => s"${f.getName}=${f.length}@${f.lastModified}")
      .mkString(dir + "|", ",", "")
  }

  /** Identifier-safe digest of [[dirKey]], embedded in every persisted
    * artifact's table/path name. The memo key alone is not enough: memos are
    * per-JVM but the artifacts are global (warehouse tables, /tmp paths), so
    * without the tag a process that served dir A after dir B would revisit
    * A's memo entry and silently read B's data.
    *
    * Tags minted this process are LIVE: stale-artifact pruning (the tag
    * derives from fixture mtimes, so a rewritten fixture would otherwise
    * leak the previous generation's dirs/tables forever) skips live tags —
    * two dirs served by one process keep both artifact sets.
    */
  private val liveTags = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Tags are PROCESS-SCOPED (pid prefix) and 64-bit (two independent murmur
    * seeds): a concurrent JVM sharing /tmp and the warehouse (bench alongside
    * sbt test) never sees this process's artifacts as prunable, and a tag
    * collision between two dirs — fatal, because the memo is keyed by the
    * full dirKey and would silently serve the wrong data — needs a
    * simultaneous 64-bit collision instead of a 31-bit one.
    */
  private val pidPrefix = s"p${ProcessHandle.current().pid()}x"
  private def tagOf(key: String): String = {
    import scala.util.hashing.MurmurHash3
    val t = f"$pidPrefix${MurmurHash3.stringHash(key) & 0xffffffffL}%08x${MurmurHash3.stringHash(key, 0x5bd1e995) & 0xffffffffL}%08x"
    liveTags.add(t)
    t
  }
  private def dirTag(dir: String): String = tagOf(dirKey(dir))

  /** Per-source token budget for the mix/pipeline queries, mirroring the
    * oracle's `400*(1 + CAST(substr(source, 4) AS BIGINT) % 3)` with the
    * SAME unbounded suffix (no length cap — a >10-digit source id would
    * silently diverge under a capped substring).
    */
  private def sourceBudget =
    lit(400L) * (lit(1L) + expr("substr(source, 4)").cast("long") % 3L)

  /** Stale = a non-live tag minted by THIS process (a rewritten fixture's
    * previous generation), or any generation older than [[staleAgeMs]]
    * (leftovers of a dead JVM — live processes here never run that long).
    * Another live process's fresh artifacts match neither arm.
    */
  private val staleAgeMs = 12L * 3600 * 1000
  private def isStaleTag(tag: String, lastModified: Long): Boolean =
    (tag.startsWith(pidPrefix) && !liveTags.contains(tag)) ||
      (System.currentTimeMillis() - lastModified > staleAgeMs)

  /** Tagged /tmp path for a per-dir artifact; prunes stale generations of
    * the same artifact before returning.
    */
  private def taggedTmpPath(prefix: String, tag: String): String = {
    val tmpDir = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
      f.delete(); ()
    }
    Option(new java.io.File(tmpDir).listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        n.startsWith(prefix + "_") &&
          isStaleTag(n.substring(n.lastIndexOf('_') + 1), f.lastModified)
      }
      .foreach(deleteRec)
    s"$tmpDir/${prefix}_$tag"
  }

  /** Drop stale catalog tables of a tagged artifact family (own-pid scope
    * only — the catalog exposes no age, so other processes' tables are left
    * to their owners).
    */
  private def pruneStaleTables(s: SparkSession, prefix: String): Unit =
    s.catalog.listTables().collect()
      .map(_.name)
      .filter { n =>
        val tag = n.substring(n.lastIndexOf('_') + 1)
        n.startsWith(prefix + "_") &&
          tag.startsWith(pidPrefix) && !liveTags.contains(tag)
      }
      .foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))

  /** The flagship embeddings fit is fully deterministic per input data, and
    * several queries consume it (`km_fit`, `km_wcr_log`) — memoize so one
    * JVM run fits once.
    */
  private val fitCache = scala.collection.concurrent.TrieMap.empty[String, KMeans.FitResult]

  /** Trained-PQ codebook, memoized per dir like the fits: 8 subspace fits
    * per (JVM, dir) — Verify and the bench's re-run protocol hit it several
    * times. The ORACLE-REPLAYABLE fixed-iteration form (first-k seeds + 2
    * fixed-point Lloyd steps per subspace — pqCodebookFitted2), so
    * emb_pq_fitted hash-matches its unrolled-CTE oracle.
    */
  private val pqCbCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Double]]]]
  private def pqFittedCb(s: SparkSession, dir: String): Seq[Seq[Seq[Double]]] =
    pqCbCache.getOrElseUpdate(dirKey(dir),
      Similarity.pqCodebookFitted2(Tables.read(s, dir, "embeddings")))
  private def embFit(s: SparkSession, dir: String): KMeans.FitResult =
    fitCache.getOrElseUpdate(dirKey(dir), {
      // NOTE: the parquet lands as ONE input split at these sfs, so the fit
      // jobs run single-task. Measured at sf0.1: hash-repartitioning
      // to 32 does NOT help — per-iteration fixed cost (plan + codegen +
      // scheduling) dominates at 15k rows, and the shuffle + 32-way partial
      // merges cost more than the parallelism buys. At real scale the input
      // arrives multi-partition and the same plan parallelizes naturally.
      val pts = Tables.yhEmbeddings(s, dir).cache()
      // k-means|| seeding: rounds+1 scans instead of k-1 — the scale path.
      // fitAuto solves sub-threshold inputs driver-local with bit-identical
      // results (KMeansSpec pin); at real scale the distributed loop runs.
      KMeans.fitAuto(pts, k = 10, dim = 64, parallelSeed = true, seed = 42)
    })

  /** Bucketed-table pair for `q_bucketed_join`: pay the shuffle ONCE at
    * write time (Sinks.writeBucketed), then every orderkey join/aggregation
    * over the pair plans with zero Exchanges. Memoized per dir — the write
    * is the amortized cost the pattern exists to amortize. Integer cents are
    * computed at write time so downstream sums stay exact longs.
    */
  private val bucketedCache = scala.collection.concurrent.TrieMap.empty[String, Unit]
  private def ensureBucketed(s: SparkSession, dir: String): (String, String) = {
    val key = dirKey(dir)
    val tag = tagOf(key)
    val (oTbl, lTbl) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    bucketedCache.getOrElseUpdate(key, {
      pruneStaleTables(s, "graft_bkt_orders")
      pruneStaleTables(s, "graft_bkt_lineitem")
      sources.Sinks.writeBucketed(
        Tables.read(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        oTbl, 8, Seq("o_orderkey"), Some(taggedTmpPath("graft_bkt_orders", tag)))
      sources.Sinks.writeBucketed(
        Tables.read(s, dir, "lineitem").select(
          col("l_orderkey").as("o_orderkey"),
          round(col("l_extendedprice") * 100).cast("long").as("l_cents")),
        lTbl, 8, Seq("o_orderkey"), Some(taggedTmpPath("graft_bkt_lineitem", tag)))
    })
    (oTbl, lTbl)
  }

  /** Persisted BASE aggregate for `q_ivm` (base = l_orderkey % 10 != 0):
    * the materialized view a 100 TB pipeline maintains incrementally —
    * written once; each arriving delta batch folds in as a k-row
    * partial-aggregate merge with zero base re-scan.
    */
  private def ensureIvmBase(s: SparkSession, dir: String): String = {
    val key = dirKey(dir)
    val out = taggedTmpPath("graft_ivm_base", tagOf(key))
    bucketedCache.getOrElseUpdate("ivm|" + key, {
      Tables.read(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 =!= 0)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
        .write.mode("overwrite").parquet(out)
    })
    out
  }

  /** Date-partitioned events for `q_partition_prune`: one write pays the
    * layout cost, then every date-ranged read scans ONLY the matching
    * `d=YYYY-MM-DD/` directories — partition pruning is THE first-order
    * lever against a 100 TB fact table (a 7-of-30-day query reads 23% of
    * the data before any executor starts). Memoized per dir like the
    * bucketed pair; PlansSpec asserts the pruned scan.
    */
  private def ensurePartitionedEvents(s: SparkSession, dir: String): String = {
    val key = dirKey(dir)
    val out = taggedTmpPath("graft_events_by_day", tagOf(key))
    bucketedCache.getOrElseUpdate("evpart|" + key, {
      Tables.readEvents(s, dir)
        .withColumn("d", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("d").parquet(out)
    })
    out
  }

  /** Persisted banded-MinHash corpus index for `dedup_incremental` (corpus =
    * doc_id % 5 != 0): built and bucketed ONCE; every delta batch probes it
    * with zero corpus re-read and zero corpus-side shuffle.
    */
  private def ensureMinhashIndex(s: SparkSession, dir: String): String = {
    val key = dirKey(dir)
    val tag = tagOf(key)
    val tbl = s"graft_mh_index_$tag"
    bucketedCache.getOrElseUpdate("mhidx|" + key, {
      pruneStaleTables(s, "graft_mh_index")
      val corpus = Tables.read(s, dir, "documents")
        .filter(col("doc_id") % 5 =!= 0)
      sources.Sinks.writeBucketed(Dedup.bandedSignatures(corpus),
        tbl, 8, Seq("band", "key"), Some(taggedTmpPath("graft_mh_index", tag)))
    })
    tbl
  }

  /** Persisted 1-bit sign-code table for `sim_binary_indexed`: the pack
    * (two 32-bit words per vector, 16 bytes + id) paid once at build —
    * probes Hamming-scan the stored codes with zero query-time packing.
    */
  private def ensureBinaryIndex(s: SparkSession, dir: String): String = {
    val key = dirKey(dir)
    val tag = tagOf(key)
    val tbl = s"graft_bin_idx_$tag"
    bucketedCache.getOrElseUpdate("binidx|" + key, {
      pruneStaleTables(s, "graft_bin_idx")
      sources.Sinks.writeBucketed(
        Similarity.binaryCodes(Tables.read(s, dir, "embeddings")),
        tbl, 8, Seq("vec_id"), Some(taggedTmpPath("graft_bin_idx", tag)))
    })
    tbl
  }

  /** Persisted lexical TF inverted index for `text_tfidf_indexed`,
    * `text_bm25_indexed` and the indexed retrieval probes: the
    * `TextAnalysis.tfRelation` `(doc_id, dl, token, tf, df, n_docs,
    * total_len)` — the corpus tokenize + explode + groupBy and the df and
    * corpus-scalar rollups paid ONCE at build time — stored BUCKETED BY
    * TOKEN, so posting-list probes co-locate without an index-side Exchange
    * and derive no corpus statistic per query. The lexical twin of
    * [[ensureIvfIndex]].
    */
  private def ensureTfIndex(s: SparkSession, dir: String): String = {
    val key = dirKey(dir)
    val tag = tagOf(key)
    val tbl = s"graft_tf_idx_$tag"
    bucketedCache.getOrElseUpdate("tfidx|" + key, {
      pruneStaleTables(s, "graft_tf_idx")
      sources.Sinks.writeBucketed(
        TextAnalysis.tfRelation(Tables.read(s, dir, "documents")),
        tbl, 8, Seq("token"), Some(taggedTmpPath("graft_tf_idx", tag)))
    })
    tbl
  }

  /** A persisted IVF index: its table and the cells it was built over. */
  private[graft] final case class IvfIndex(table: String, cells: Seq[KMeans.Centroid])

  /** The IVF index builds, per dir key: memoized like [[bucketedCache]]'s
    * and, like them, not cleared by [[clearMemos]]; the cells ride with the
    * table, so a probe reads them instead of recounting and recollecting
    * them ([[embCells]]).
    */
  private val ivfIndexes = scala.collection.concurrent.TrieMap.empty[String, IvfIndex]

  /** Persisted IVF index for `sim_ivf_indexed`: built once per dir (the
    * build-time shuffle is the cost the build/probe split amortizes), over
    * [[embCells]], which the index returns with its table.
    */
  private[graft] def ensureIvfIndex(s: SparkSession, dir: String): IvfIndex = {
    val key = dirKey(dir)
    val tag = tagOf(key)
    val tbl = s"graft_ivf_idx_$tag"
    ivfIndexes.getOrElseUpdate(key, {
      pruneStaleTables(s, "graft_ivf_idx")
      val emb = Tables.read(s, dir, "embeddings")
      // the production build path ships the r17 CHOOSER: routed build
      // (n·(nSuper+|children|) assignment folds — the 160× lever) when the
      // sampled flat-vs-routed agreement clears the gate, flat otherwise.
      // THIS call site requires 100% SAMPLED agreement (r17 advice) —
      // 2048 hash-drawn probes, so it bounds rather than proves: a corpus
      // routing here has <0.05% expected undetected divergence (a 99.5%-
      // agreement corpus clears the old 99% gate but fails this one with
      // near-certainty: P[no disagreement in 2048 draws] ≈ 0.5%^… ≈ 3e-5).
      // Corpora that pass are overwhelmingly the structurally hierarchical
      // ones where agreement is exactly 100%; the <100% recall trade
      // stays opt-in for explicit buildIvfIndexAuto callers at the 99%
      // default gate. On the near-uniform fixtures the gate reads ~33-50% and
      // this is the flat build bit-for-bit (published hashes untouched);
      // the gate itself costs one top-2048 scan (0.80 s at 2M, SCALE.md
      // r17). Degenerate supers (bit-identical early corpus vectors — the
      // dupe-heavy target workload) fall back to flat inside
      // buildIvfIndexAuto instead of crashing (r17 advice, medium).
      val cells = embCells(s, dir)
      val supers = cells.sortBy(_.j)
        .take(math.ceil(math.sqrt(cells.size.toDouble)).toInt)
      Similarity.buildIvfIndexAuto(emb, cells, supers,
        tbl, buckets = 8, Some(taggedTmpPath("graft_ivf_idx", tag)),
        agreePpm = 1000000L)
      IvfIndex(tbl, cells)
    })
  }

  /** Materialize every media payload as a REAL file once per dir — the
    * multimodal INGEST seam (r18): at 100 TB, blobs arrive as
    * object-store files, not parquet columns, so the engine must ingest
    * from a file listing. The write is DISTRIBUTED (foreachPartition on
    * executors — no driver collect of payload bytes; on a cluster the
    * destination is the shared object store) and idempotent behind a
    * _SUCCESS marker, the same amortized one-time-build contract as the
    * persisted indexes (prewarmIndexes builds it untimed).
    */
  private def ensureMediaFiles(s: SparkSession, dir: String): String = {
    import s.implicits._
    val out = new java.io.File(
      taggedTmpPath("graft_media_files", tagOf(dirKey(dir))))
    val marker = new java.io.File(out, "_SUCCESS")
    if (!marker.isFile) {
      out.mkdirs()
      val base = out.getAbsolutePath
      Multimodal.mediaTable(Tables.read(s, dir, "documents"))
        .select(col("media_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
          it.foreach { case (id, bytes) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(base, s"media_$id.bin"), bytes)
          }
        }
      java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    }
    out.getAbsolutePath
  }

  /** Canonical orders projection for the fingerprint queries. */
  private def fpOrders(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))

  /** (bucket, h): per-row polynomial content hash over the canonical
    * `key|key|status|cents` string (base 131 mod 1e9+7 — int64-safe fold),
    * bucketed by key range. Commutative-sum-able, hence order-independent
    * AND delta-updatable (`q_fingerprint_ivm`). The per-char fold runs the
    * codegen'd poly_hash_base kernel (the HOF
    * `aggregate(transform(split(canon,''), ascii), ...)` is interpreted
    * per character and was q_fingerprint's hot spot; value parity pinned
    * in PlansSpec).
    */
  private def fpRowHash(df: DataFrame): DataFrame = {
    val canon = concat_ws("|", col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("cents"))
    df.select((col("o_orderkey") % 32).as("bucket"),
      plans.native.poly_hash_base(canon, 131L, 1000000007L).as("h"))
  }

  private def fpAgg(df: DataFrame, n: String, f: String): DataFrame =
    fpRowHash(df).groupBy("bucket")
      .agg(count(lit(1)).as(n), sum("h").as(f))

  /** Persisted IVF-PQ index for `sim_ivfpq_indexed`: the [[ensureIvfIndex]]
    * build/probe split carrying the compressed codes — built once per dir,
    * bucketed by cell.
    */
  private def ensureIvfPqIndex(s: SparkSession, dir: String): String = {
    val key = dirKey(dir)
    val tag = tagOf(key)
    val tbl = s"graft_ivfpq_idx_$tag"
    bucketedCache.getOrElseUpdate("ivfpq|" + key, {
      pruneStaleTables(s, "graft_ivfpq_idx")
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.buildIvfPqIndex(emb, embCells(s, dir),
        Similarity.pqCodebook(emb), tbl, buckets = 8,
        Some(taggedTmpPath("graft_ivfpq_idx", tag)))
    })
    tbl
  }

  /** Persisted IVF-SQ8 index for `sim_ivfsq8_indexed`: the
    * [[ensureIvfPqIndex]] build/probe split over the byte codes.
    */
  private def ensureIvfSq8Index(s: SparkSession, dir: String): String = {
    val key = dirKey(dir)
    val tag = tagOf(key)
    val tbl = s"graft_ivfsq8_idx_$tag"
    bucketedCache.getOrElseUpdate("ivfsq8|" + key, {
      pruneStaleTables(s, "graft_ivfsq8_idx")
      val emb = Tables.read(s, dir, "embeddings")
      val (mn, mx) = Similarity.sq8Bounds(emb)
      Similarity.buildIvfSq8Index(emb, embCells(s, dir),
        mn, mx, tbl, buckets = 8, Some(taggedTmpPath("graft_ivfsq8_idx", tag)))
    })
    tbl
  }

  /** Bisecting fit memo under the same contract as [[embFit]]: the fit is
    * deterministic per input dir (fixed seed 42), so one JVM run fits once
    * and `km_fit_bisecting` times the ASSIGNMENT against the fitted model —
    * the same fit/probe split every other fitted query uses. Bench's
    * clearMemos keeps re-runs honest (round-13 flag: the un-memoized
    * per-call re-fit made this the costliest query after pipeline_full while
    * producing no new information per run).
    */
  private val bisectCache =
    scala.collection.concurrent.TrieMap.empty[String, operators.KMeansML.BisectingFit]
  private def embFitBisecting(s: SparkSession, dir: String): operators.KMeansML.BisectingFit =
    bisectCache.getOrElseUpdate(dirKey(dir), {
      val pts = Tables.yhEmbeddings(s, dir).cache()
      try operators.KMeansML.fitBisecting(pts, k = 10) finally pts.unpersist()
    })

  /** Spherical twin of [[embFit]] for cosine ANN, in the BOUNDED
    * oracle-replayable form ([[KMeans.fitBounded]]): exact inverse-CDF
    * k-means++ seeding + ≤3 movement-gated Lloyd steps over the
    * L2-normalized embeddings — every stage ANSI-expressible, so
    * `sim_ivf_fitted` is DuckDB hash-checked end to end (fit included).
    * weightScale 1e6 lifts the normalized vectors' sub-4.0 D² draw weights
    * into integer range.
    */
  private def embFitBoundedNorm(s: SparkSession, dir: String): KMeans.FitResult =
    fitCache.getOrElseUpdate("normb|" + dirKey(dir), {
      val pts = Similarity.normalize(Tables.read(s, dir, "embeddings"))
        .select(col("vec_id").as("i"), col("embedding").as("Y")).cache()
      KMeans.fitBounded(pts, k = 10, dim = 64, tol = 0.01, lloydSteps = 3,
        fxScale = 1e6, weightScale = 1e6)
    })

  /** `dedup_components` and `dedup_keep` consume the SAME iterative
    * label-propagation result (5 LSH stages + ~log(cluster-diameter)
    * checkpointed rounds) — memoize the collected (doc_id, rep_id) pairs,
    * exactly like the silhouette pair stats. Deterministic and honest under
    * Bench's clearMemos re-run rule. The collect is one row per doc, so the
    * memo only engages BELOW `memoMaxRows` — past it (i.e. at real scale)
    * each caller gets the live distributed plan and shares nothing, which
    * is the correct trade: an O(n) driver materialization is never worth a
    * saved recompute.
    */
  private val componentsCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[org.apache.spark.sql.Row]]
  /** Test seam: force the memoized shared stages (components, knn edges)
    * down their live distributed path regardless of size, so the memo/live
    * parity the design ASSUMES is pinned by a spec instead (ScaleSpec).
    * Never set outside tests.
    */
  private[graft] var memoMaxRowsOverride: Option[Long] = None
  private def docComponents(s: SparkSession, dir: String,
      memoMaxRows: Long = 1000000L): DataFrame = {
    val bound = memoMaxRowsOverride.getOrElse(memoMaxRows)
    val docs = Tables.read(s, dir, "documents")
    def live = Dedup.connectedComponents(docs, Dedup.minhashLSH(docs))
    // memo first — once populated, consumers must not pay even the count
    // guard job (the knnEdges rule)
    if (!componentsCache.contains(dirKey(dir)) && docs.count() > bound)
      return live
    val rows = componentsCache.getOrElseUpdate(dirKey(dir), live.collect())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rep_id", org.apache.spark.sql.types.LongType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Shared stage of `pipeline_full` / `pipeline_provenance` (r18): both
    * build the IDENTICAL components relation — quality-kept over the
    * %97 benchmark split — and without sharing, the suite pays the
    * LSH + label-propagation build twice per run. Same memo discipline
    * as [[docComponents]] (bounded collected rows, clearMemos honesty);
    * deliberately NOT prewarmed — the first consumer pays the build in
    * its timed region, so the bench still prices the full chain once.
    */
  private def pipeComponents(s: SparkSession, dir: String,
      memoMaxRows: Long = 1000000L): DataFrame = {
    val bound = memoMaxRowsOverride.getOrElse(memoMaxRows)
    val docs = Tables.read(s, dir, "documents").filter(col("doc_id") % 97 =!= 0)
    def live = {
      val kept = TextAnalysis.qualityScore(docs, minTokens = 25)
        .filter(col("keep") === 1).select("doc_id")
      val clean = docs.join(kept, "doc_id")
      Dedup.connectedComponents(clean, Dedup.minhashLSH(clean))
        .select(col("doc_id"), col("rep_id"))
    }
    // live path PERSISTED (r19 advice): past the memo bound each query
    // consumes comps several times (pipeline_full: reps + svn;
    // provenance: reps + svn + the final audit join); connectedComponents'
    // localCheckpoint is non-reliable storage, so without this persist the
    // LSH + label-propagation chain recomputes per consumer on executor
    // loss at real scale
    if (!componentsCache.contains("pipe|" + dirKey(dir)) &&
        docs.count() > bound)
      return TransientCaches.register(live.persist())
    val rows = componentsCache.getOrElseUpdate("pipe|" + dirKey(dir), live.collect())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rep_id", org.apache.spark.sql.types.LongType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Shared stage of `pipeline_clean` / `pipeline_corpus`: components over
    * the quality-kept subset. Same memo discipline as [[docComponents]] —
    * collected rows are one per kept doc, the memo only engages below
    * `memoMaxRows`, and Bench's clearMemos keeps re-runs honest.
    */
  private def cleanComponents(s: SparkSession, dir: String,
      memoMaxRows: Long = 1000000L): DataFrame = {
    val bound = memoMaxRowsOverride.getOrElse(memoMaxRows)
    val docs = Tables.read(s, dir, "documents")
    def live = {
      val kept = TextAnalysis.qualityScore(docs, minTokens = 25)
        .filter(col("keep") === 1).select("doc_id")
      val clean = docs.join(kept, "doc_id")
      Dedup.connectedComponents(clean, Dedup.minhashLSH(clean))
    }
    // memo first — see docComponents
    if (!componentsCache.contains("clean|" + dirKey(dir)) &&
        docs.count() > bound) return live
    val rows = componentsCache.getOrElseUpdate("clean|" + dirKey(dir), live.collect())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rep_id", org.apache.spark.sql.types.LongType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** A fit's [[KMeans.census]] rows joined to its centroids' two
    * coordinates: `(j, n, cx, cy)` per centroid with rows, as
    * `census.join(cs, j = j2)` gives them, both sides already on the driver.
    */
  private def censusWith(s: SparkSession, fitted: (KMeans.FitResult, Seq[(Long, Long)])): DataFrame = {
    import s.implicits._
    val (fit, census) = fitted
    val n = census.toMap
    fit.centroids.flatMap(c => n.get(c.j).map((c.j, _, c.c(0), c.c(1)))).toDF("j", "n", "cx", "cy")
  }

  private def xy(df: DataFrame): DataFrame =
    df.select(col("i"), element_at(col("Y"), 1).as("x"), element_at(col("Y"), 2).as("y"))

  /** Drop the cross-query RESULT memos (fits, silhouette pair stats,
    * component labels). Bench calls this before an anomaly RE-RUN so the
    * repeated query redoes its real work instead of reading a memo and
    * reporting a flattering near-zero.
    *
    * `bucketedCache` and `ivfIndexes` are deliberately NOT cleared: they
    * memoize persisted INDEX builds (bucketed tables, partitioned layouts, ANN/MinHash
    * indexes) whose one-time build cost is amortized by design — the
    * published queries time the PROBE against a prebuilt index (the
    * build runs untimed in [[prewarmIndexes]]), so a re-run that re-paid
    * the build would overstate, not flatter, the steady-state cost.
    */
  def clearMemos(): Unit = {
    fitCache.clear(); silStatsCache.clear(); componentsCache.clear()
    pqCbCache.clear(); knnEdgesCache.clear(); bisectCache.clear()
    yhCountCache.clear(); embCountCache.clear()
    TransientCaches.releaseAll()
  }

  /** FOUR graph queries (`sim_knn_graph`, `sim_graph_rank`, `sim_bfs`,
    * `sim_triangles`) consume the SAME mutual k-NN edge list — memoize the
    * collected edge rows exactly like [[silPairStats]]/[[docComponents]]:
    * the edge list is n·k-bounded (mutuality can only shrink it), the memo
    * only engages below `memoMaxRows`, past it every caller gets the live
    * distributed plan, and Bench's clearMemos keeps re-runs honest. The
    * production reading: materialize the graph once, run every graph
    * analytic against it — which is how any real pipeline treats a k-NN
    * build.
    */
  private val knnEdgesCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[org.apache.spark.sql.Row]]
  private def knnEdges(s: SparkSession, dir: String,
      memoMaxRows: Long = 1000000L): DataFrame = {
    val emb = Tables.read(s, dir, "embeddings")
    // the live path IS the at-scale path (it only engages past the memo
    // bound), so it runs the BLOCKED build — bit-identical to the join
    // form (SimilaritySpec) without the |cell|²·nProbe² candidate-row
    // materialization the round-15 100× smoke measured as the scale killer
    def live = Similarity.knnGraphBlocked(emb, embCells(s, dir))
    // memo first: once populated, a consumer must not pay even the count
    // job (four graph queries each charged one redundant embeddings count).
    // The bound is on the EDGE count the memo would collect (≤ n·k, k = 4 —
    // mutuality only shrinks it), not the vector count: the collected thing
    // is what must stay bounded.
    if (!knnEdgesCache.contains(dirKey(dir)) &&
        emb.count() * 4 > memoMaxRowsOverride.getOrElse(memoMaxRows))
      return live
    val rows = knnEdgesCache.getOrElseUpdate(dirKey(dir), live.collect())
    val lt = org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(
      Seq("a_id", "b_id", "cos_e6", "rnk_ab", "rnk_ba")
        .map(org.apache.spark.sql.types.StructField(_, lt)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Build every persisted `ensure*` index for `dir` — called by Bench's
    * UNTIMED warm-up so no timed query ever pays a one-time index build.
    * The build cost is real but amortized over the index's lifetime (that
    * is the entire point of the build/probe split); charging it to
    * whichever query happens to run first made `dedup_incremental` read
    * 2.4× its floor in round 11.
    */
  def prewarmIndexes(s: SparkSession, dir: String): Unit = {
    ensureBucketed(s, dir); ensureIvmBase(s, dir)
    ensurePartitionedEvents(s, dir); ensureMinhashIndex(s, dir)
    ensureIvfIndex(s, dir); ensureIvfPqIndex(s, dir)
    ensureIvfSq8Index(s, dir); ensureTfIndex(s, dir)
    ensureBinaryIndex(s, dir); ensureMediaFiles(s, dir)
  }

  /** Build only the documents/embeddings-backed persisted indexes for
    * `dir`, returning per-index build wall seconds — the subset
    * [[ScaleSmoke]] needs (the full [[prewarmIndexes]] also builds
    * orders/lineitem/events-backed tables, which the scaled doc fixture
    * does not carry). Build cost is part of the scale story: it must grow
    * ~linearly with the corpus like everything else.
    */
  def prewarmDocIndexes(s: SparkSession, dir: String): Map[String, Double] = {
    def time(f: => Any): Double =
      { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    Map("minhash_index" -> time(ensureMinhashIndex(s, dir)),
      "ivf_index" -> time(ensureIvfIndex(s, dir)))
  }

  /** The embeddings-only subset of [[prewarmDocIndexes]] — what the
    * 100× ANN scale smoke needs (its scaled fixture carries no documents,
    * so the MinHash index build would fail there).
    */
  def prewarmAnnIndex(s: SparkSession, dir: String): Map[String, Double] = {
    val t0 = System.nanoTime()
    ensureIvfIndex(s, dir)
    Map("ivf_index" -> ((System.nanoTime() - t0) / 1e9))
  }

  /** The retrieval-family subset — the token-bucketed TF inverted index
    * (the lexical probes) plus the IVF cell index (the hybrid query's
    * dense half), timed per index: what the 100× retrieval scale smoke
    * needs (r16 verdict task 3).
    */
  def prewarmRetrievalIndexes(s: SparkSession, dir: String): Map[String, Double] = {
    def time(f: => Any): Double =
      { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    Map("tf_index" -> time(ensureTfIndex(s, dir)),
      "ivf_index" -> time(ensureIvfIndex(s, dir)))
  }

  /** Build the shared-stage memos — the duplicate-component map (LSH edges
    * + label propagation behind `dedup_components` and the `pipeline_*`
    * family), the mutual k-NN edge list (the four graph queries), and the
    * silhouette pair stats (both silhouette queries) — the same
    * amortization contract as [[prewarmIndexes]]: a production pipeline
    * materializes each of these once and every downstream analytic reads
    * it, so no timed query should pay the one-time build. The bench calls
    * this in the untimed warm-up AND after each memo consumer's rerun
    * `clearMemos` (a rerun must re-time the QUERY, not the shared build —
    * without the restore, a memo consumer flagged by a noisy first pass
    * re-measures the full build and can never launder the noise).
    */
  def prewarmComponents(s: SparkSession, dir: String): Unit = {
    docComponents(s, dir).count()
    cleanComponents(s, dir).count()
    knnEdges(s, dir).count()
    silPairStats(s, dir).count()
  }

  /** Count-derived silhouette sample modulus targeting a FIXED sample size
    * (`n / targetRows`, floored, min 1) — the fix for the round-14 verdict's
    * last O(n) driver materialization: a fixed MODULUS (`i % 23`) collects a
    * fixed FRACTION, which grows linearly with the corpus, while a
    * count-derived modulus keeps the collected sample ~targetRows at any
    * scale. Targets are chosen so the sf0.01 fixture (15,000 orders) derives
    * the HISTORICAL moduli exactly — 15000/652 = 23, 15000/154 = 97 — so
    * every oracle hash pin survives bit-identical. The one count job is
    * memoized per dir (and dropped by [[clearMemos]] so bench re-runs stay
    * honest). The oracle SQL mirrors the derivation as a scalar subquery:
    * `i % greatest(1, (SELECT count(*) // target FROM yh)) = 0`.
    */
  private val yhCountCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def silModulus(s: SparkSession, dir: String, targetRows: Long): Long = {
    val n = yhCountCache.getOrElseUpdate(dirKey(dir), Tables.yhOrders(s, dir).count())
    math.max(1L, n / targetRows)
  }
  /** sf0.01-anchored sample targets (see [[silModulus]]). */
  private val SilSampleTarget = 652L
  private val OptimalKSampleTarget = 154L

  /** The coarse quantizer every ANN/blocking binding shares, with the cell
    * count derived from the corpus size ([[Similarity.autoCells]]: 16 at
    * every oracle/bench fixture, √n/4 past them) — the round-14 verdict's
    * "pinned nCells=16" scale defect closed at the binding layer. The count
    * job is memoized per dir and dropped by [[clearMemos]].
    */
  private val embCountCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def embCells(s: SparkSession, dir: String): Seq[KMeans.Centroid] = {
    val emb = Tables.read(s, dir, "embeddings")
    val n = embCountCache.getOrElseUpdate(dirKey(dir), emb.count())
    Similarity.fixedCentroids(emb, Similarity.autoCells(n))
  }

  /** The blocked-vs-exact recall curve over the embeddings at a given
    * cosine threshold: one [[operators.Dedup.blockedFirstProbe]] indexing
    * pass prices every probe level {1,2,4,8} at once. Shared by
    * `dedup_semantic_recall` (the 0.35 near-dup threshold) and
    * `dedup_semantic_probe` (semanticDedup's own 0.50 production
    * threshold).
    */
  private def semanticRecallCurve(s: SparkSession, dir: String,
      thrE6: Long): DataFrame = {
    val emb = Tables.read(s, dir, "embeddings")
    Dedup.blockedFirstProbe(emb, embCells(s, dir), thrE6 = thrE6, maxProbe = 8)
      .select(col("first_probe"),
        explode(typedlit(Seq(1L, 2L, 4L, 8L))).as("n_probe"))
      .groupBy("n_probe")
      .agg(count(lit(1)).cast("long").as("n_exact"),
        sum(when(col("first_probe") <= col("n_probe"), 1L).otherwise(0L))
          .cast("long").as("n_hit"))
      .select(col("n_probe"), col("n_exact"), col("n_hit"),
        expr("n_hit * 1000000 div n_exact").as("recall_ppm"))
  }

  /** Both silhouette queries derive exactly from ONE O(n²) pair-stats stage
    * (Quality.silhouettePairStats) — n_sample × k rows of pure integers, so
    * memoizing the collected rows is deterministic and tiny. The quadratic
    * join runs once per JVM instead of once per silhouette query.
    */
  private val silStatsCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[org.apache.spark.sql.Row]]
  private def silPairStats(s: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i1", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("j1", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("j2", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sfx", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType)))
    val rows = silStatsCache.getOrElseUpdate(dirKey(dir), {
      val sample = Tables.yhOrders(s, dir)
        .filter(col("i") % silModulus(s, dir, SilSampleTarget) === 0)
      Quality.silhouettePairStats(KMeans.assign(sample, c4(s, dir))).collect()
    })
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  // Shared oracle CTE fragments (DuckDB SQL).
  private val YH = Tables.yhOrdersSql
  private val C4 =
    """c AS (SELECT CAST(row_number() OVER (ORDER BY i) AS BIGINT) AS j, x, y
      |  FROM (SELECT i, x, y FROM yh ORDER BY i LIMIT 4) t)""".stripMargin
  /** Nearest-of-c assignment (argmin, ties → lowest j) for a relation named `s`. */
  private val ASSIGN =
    """a AS (SELECT i, x, y, j FROM (
      |  SELECT s.i, s.x, s.y, c.j,
      |    row_number() OVER (PARTITION BY s.i
      |      ORDER BY (s.x-c.x)*(s.x-c.x)+(s.y-c.y)*(s.y-c.y), c.j) AS rn
      |  FROM s CROSS JOIN c) t WHERE rn = 1)""".stripMargin
  private val LLOYD =
    """l AS (SELECT j, count(*) AS n,
      |  CAST(sum(CAST(round(x*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS cx,
      |  CAST(sum(CAST(round(y*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS cy
      |  FROM a GROUP BY j)""".stripMargin

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- standard relational sanity (S1, A1/A9/A11, J4, W4) ----
    "q1_agg" -> ((s, dir) => {
      Tables.read(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sumFx(col("l_extendedprice"), 100.0).as("sum_base"),
          sumFx(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000.0).as("sum_disc"),
          (sum("l_quantity") / count(lit(1))).as("avg_qty"),
          (sumFx(col("l_extendedprice"), 100.0) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("cnt"))
    }),
    "q_topn_join" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      val cust = Tables.read(s, dir, "customer")
      val nat = Tables.read(s, dir, "nation")
      val rev = o.join(broadcast(cust), o("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_nationkey"), col("o_custkey"))
        .agg(sumFx(col("o_totalprice"), 100.0).as("revenue"))
      val w = Window.partitionBy("c_nationkey").orderBy(desc("revenue"), col("o_custkey"))
      rev.join(broadcast(nat), rev("c_nationkey") === nat("n_nationkey"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("n_name"), col("o_custkey").as("c_custkey"), col("revenue"), col("rnk"))
    }),

    // filtered aggregation: predicate + projection reach the parquet scan
    "q_filter_pushdown" -> ((s, dir) => {
      Tables.read(s, dir, "lineitem")
        .filter(col("l_quantity") >= 30.0 && col("l_discount") >= 0.05)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sumFx(col("l_extendedprice") * col("l_discount"), 10000.0).as("disc_revenue"))
    }),
    // 5-way star join, all dimension sides broadcast
    "q_multijoin" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      val o = Tables.read(s, dir, "orders")
      val cust = Tables.read(s, dir, "customer")
      val nat = Tables.read(s, dir, "nation")
      val reg = Tables.read(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(cust), o("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("cnt"),
          sumFx(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000.0)
            .as("revenue"))
    }),
    // anti join: customers with no high-value order (NOT EXISTS + predicate;
    // every customer has SOME order in this synthetic data)
    "q_antijoin" -> ((s, dir) => {
      val cust = Tables.read(s, dir, "customer")
      val big = Tables.read(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      cust.join(big, cust("c_custkey") === big("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"))
    }),
    // rollup: per (returnflag, linestatus) + subtotals + grand total
    "q_rollup" -> ((s, dir) => {
      Tables.read(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
    }),
    // full set of cross marginals next to the rollup's prefix marginals
    "q_cube" -> ((s, dir) => {
      Tables.read(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
    }),
    // long→wide pivot with PINNED output columns (the RelationalGroupedDataset
    // .pivot API — the dynamic-column sibling of km_pivot_viz's manual
    // when/otherwise pivot); explicit value list keeps the schema static,
    // which is what a 100 TB plan needs (no value-discovery pre-scan) ----
    "q_pivot" -> ((s, dir) =>
      Tables.read(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity")))),
    // pivot's inverse: wide measures melted to (measure, value) long form
    // via Dataset.unpivot (Expand under the hood — ONE scan emits all four
    // rows per input, no union of re-scans), then a per-measure census in
    // the shared fixed-point units
    "q_unpivot" -> ((s, dir) =>
      Tables.read(s, dir, "lineitem").select(
          col("l_returnflag"),
          round(col("l_quantity")).cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"),
          round(col("l_discount") * 10000).cast("long").as("disc_e4"),
          round(col("l_tax") * 10000).cast("long").as("tax_e4"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price_c"), col("disc_e4"), col("tax_e4")),
          "measure", "v")
        .groupBy("l_returnflag", "measure")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))),
    // ARBITRARY grouping sets (the general form rollup/cube specialize):
    // both single-column marginals WITHOUT the pair level — inexpressible
    // as rollup or cube — plus the grand total; grouping_id disambiguates
    // a real NULL group value from an aggregated-out column. One Expand +
    // one shuffle, exactly like rollup — the planner shape is identical ----
    "q_grouping_sets" -> ((s, dir) => {
      Tables.read(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"),
          grouping_id().cast("long").as("gid"))
    }),
    // full outer join with genuine left-only / both / right-only cases
    // (asymmetric filters force all three); one shuffle on the key — full
    // outer can't broadcast, and this IS the plan shape at any scale
    "q_outer_join" -> ((s, dir) => {
      val c = Tables.read(s, dir, "customer")
        .filter(col("c_nationkey") % 3 =!= 0)
        .groupBy("c_nationkey")
        .agg(countDistinct(col("c_custkey")).as("n_customers"))
        .select(col("c_nationkey").as("nk"), col("n_customers"))
      val sup = Tables.read(s, dir, "supplier")
        .filter(col("s_nationkey") % 2 =!= 0)
        .groupBy("s_nationkey").agg(count(lit(1)).as("n_suppliers"))
        .select(col("s_nationkey").as("nk2"), col("n_suppliers"))
      c.join(sup, col("nk") === col("nk2"), "full_outer")
        .select(coalesce(col("nk"), col("nk2")).cast("long").as("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
    }),

    // ---- the YH input-adapter contract (S4/P1/P2) ----
    "km_yh" -> ((s, dir) => xy(Tables.yhOrders(s, dir))),

    // ---- seeding (O4; §2.11 op 1) ----
    "km_seed_first" -> ((s, dir) => {
      xy(Tables.yhOrders(s, dir)).orderBy("i").limit(1)
        .select(lit(1L).as("j"), col("x"), col("y"))
    }),
    // k-means++ round (J1/J3/A3/W1/W2/P6/O2; §2.11 op 2), u = 1/2 fixed draw
    "km_seed_next" -> ((s, dir) => {
      val yh = Tables.yhOrders(s, dir)
      val next = KMeans.seedNextInverseCdf(yh, c4(s, dir).take(1), uNum = 1, uDen = 2)
      next.select(col("j"), element_at(col("Y"), 1).as("x"), element_at(col("Y"), 2).as("y"))
    }),

    // ---- assignment (O5/A2; §2.11 op 3) ----
    "km_assign" -> ((s, dir) => {
      KMeans.assign(Tables.yhOrders(s, dir), c4(s, dir)).select(col("i"), col("j"))
    }),

    // ---- Lloyd step (A1/A11/P4/P5; §2.11 op 4) ----
    "km_lloyd_step" -> ((s, dir) => {
      val assigned = KMeans.assign(Tables.yhOrders(s, dir), c4(s, dir))
      KMeans.lloydStepDF(assigned, dim = 2, fxScale = 1e4)
        .select(col("j"), col("n"),
          element_at(col("C"), 1).as("cx"), element_at(col("C"), 2).as("cy"))
    }),

    // ---- convergence delta (A6/A9/W4; §2.11 op 5, intended Q2 semantics) ----
    "km_delta" -> ((s, dir) => {
      import s.implicits._
      val cs0 = c4(s, dir)
      val assigned = KMeans.assign(Tables.yhOrders(s, dir), cs0)
      val cs1 = KMeans.lloydStep(assigned, dim = 2, fxScale = 1e4)
      val byJ = cs0.map(c => c.j -> c.c).toMap
      cs1.flatMap(n => byJ.get(n.j).map(p => (n.j, p(0), p(1), n.c(0), n.c(1))))
        .toDF("j", "x0", "y0", "x1", "y1")
        .select(col("j"),
          round(sqrt((col("x1") - col("x0")) * (col("x1") - col("x0")) +
            (col("y1") - col("y0")) * (col("y1") - col("y0"))) * 1e6).cast("long").as("move_e6"))
    }),

    // ---- elbow (§2.11 op 6; Q3: d1 = reference, d2 = textbook WCSS) ----
    // Coarse fixed-point scales sized for this binding's 1e5..1e11 magnitudes
    // (must stay in sync with the oracle SQL's 1e4 / 0.01 literals).
    "km_elbow" -> ((s, dir) =>
      Quality.elbow(Tables.yhOrders(s, dir), c4(s, dir), d1Scale = 1e4, d2Scale = 0.01)),

    // ---- OptimalK sweep (reference OptimalK.sql / README.md:39-43): one
    // row (k, elbow_d1, elbow_d2, si) per k = 2..8. Centroid sets are the
    // NESTED deterministic first-k seeds so the whole sweep is ANSI-SQL
    // expressible (the fit-per-k form is Quality.optimalKSweep; iterative,
    // so not oracle-able). One scan computes all 7 elbows; the O(n²)
    // silhouette pair stage runs once, shared across every k. ----
    "km_optimal_k" -> ((s, dir) => {
      val yh = Tables.yhOrders(s, dir)
      Quality.optimalKNested(yh,
        sample = yh.filter(col("i") % silModulus(s, dir, OptimalKSampleTarget) === 0),
        seeds = KMeans.seedFirstK(yh, 8), ks = 2 to 8,
        d1Scale = 1e4, d2Scale = 0.01)
    }),

    // gap statistic over nested seed prefixes + transparent LCG reference
    // draws — fully ANSI-mirrored (hash-exact), the choose-K toolkit's
    // relational form next to elbow / silhouettes / validity indices.
    // deterministic i%7 sample, same discipline as the silhouette samples:
    // the gap contrast needs the cluster GEOMETRY, not every row — one
    // multi-aggregate scan over the sample keeps the sweep's cost flat
    "km_gap" -> ((s, dir) => {
      val yh = Tables.yhOrders(s, dir).filter(col("i") % 7 === 0).cache()
      Quality.gapStatisticNested(yh, dim = 2, ks = 2 to 6,
        seeds = KMeans.seedFirstK(yh, 6))
    }),

    // the FITTED gap statistic (Tibshirani et al. 2001), fit-per-k on both
    // sides — HASH-ORACLE-BACKED since round 14: seeding is the exact
    // inverse-CDF k-means++ machinery with fixed rational draws and each
    // fit is the movement-gated bounded Lloyd loop, so the entire
    // seed→fit→census chain unrolls as CTEs (OracleSql.kmGapFitted — the
    // emb_pq_fitted discipline applied to the gap sweep). The textbook
    // free-running form (k-means|| seeding, MLlib-style convergence) stays
    // spec-pinned in QualitySpec's planted-k test of Quality.gapStatistic.
    "km_gap_fitted" -> ((s, dir) => {
      val yh = Tables.yhOrders(s, dir).filter(col("i") % 7 === 0)
      Quality.gapStatisticFitted(yh, dim = 2, ks = 2 to 6)
    }),

    // ---- simplified silhouette on a deterministic sample (§2.11 op 7);
    // shares the memoized O(n²) pair stage with the Rousseeuw variant ----
    "km_silhouette" -> ((s, dir) =>
      Quality.silhouetteSimplifiedFromStats(silPairStats(s, dir))),

    // ---- textbook per-point Rousseeuw silhouette (beyond reference) ----
    "km_silhouette_rousseeuw" -> ((s, dir) =>
      Quality.silhouetteRousseeuwFromStats(silPairStats(s, dir))),

    // ---- pivot-viz (§2.11 op 8; reference k-means.sql:58-66): manual
    // per-cluster pivot if(j=m, y, null) for scatter-plotting ----
    "km_pivot_viz" -> ((s, dir) => {
      val assigned = KMeans.assign(Tables.yhOrders(s, dir), c4(s, dir))
      val cols = (1 to 4).map(m =>
        when(col("j") === m, element_at(col("Y"), 2)).as(s"c$m"))
      assigned.select((col("i") +: element_at(col("Y"), 1).as("x") +: cols): _*)
    }),

    // ---- assignment over the 3-D events binding: the YH adapter bound to a
    // third relation with a timestamp-derived coordinate (README.md:34-36's
    // "redefine YH over your table" contract) ----
    "km_assign_events" -> ((s, dir) => {
      val yh = Tables.yhEvents(s, dir)
      KMeans.assign(yh, KMeans.seedFirstK(yh, 3))
        .groupBy("j").agg(count(lit(1)).as("n"),
          sumFx(element_at(col("Y"), 2), 100.0).as("sum_value"))
        .select(col("j"), col("n"), col("sum_value"))
    }),

    // ---- two unrolled fit iterations, hash-oracle-able (E1 exactness):
    // the SAME assign/lloyd building blocks the fit loop composes, chained
    // twice from the fixed c4 seed — closing the "loop ≡ composed steps"
    // gap end-to-end with a DuckDB hash compare instead of rows-only ----
    "km_fit2_exact" -> ((s, dir) => {
      val yh = Tables.yhOrders(s, dir)
      val cs1 = KMeans.lloydStep(KMeans.assign(yh, c4(s, dir)), dim = 2, fxScale = 1e4)
      KMeans.lloydStepDF(KMeans.assign(yh, cs1), dim = 2, fxScale = 1e4)
        .select(col("j"), col("n"),
          element_at(col("C"), 1).as("cx"), element_at(col("C"), 2).as("cy"))
    }),

    // ---- the BOUNDED oracle-replayable flagship fit over the orders YH
    // (KMeans.fitBounded: exact inverse-CDF k-means++ with the FixedUs
    // rational draws + ≤3 movement-gated Lloyd steps) — the headline fit
    // path cross-engine HASH-CHECKED end to end (OracleSql.kmFitBounded
    // unrolls seeding, steps, gate and census as CTEs; reference
    // k-means.sh:16-33 is this loop). km_fit stays the free-running
    // k-means|| twin (rows-only by construction). ----
    "km_fit_bounded" -> ((s, dir) =>
      censusWith(s, KMeans.fitBoundedCensus(Tables.yhOrders(s, dir), k = 4, dim = 2, tol = 0.01,
        lloydSteps = 3, fxScale = 1e4))),

    // ---- the FREE-RUNNING fit: km_fit_bounded's exact chain with the
    // step budget lifted to a safety cap, so the loop runs until the
    // movement gate itself stops it (43 Lloyd steps at sf0.01 — the
    // reference's while-delta≥tol lifecycle, k-means.sh:16-33) and the
    // oracle replays it as a RECURSIVE CTE (OracleSql.kmFitFree): data
    // decides the iteration count on BOTH engines ----
    "km_fit_free" -> ((s, dir) =>
      censusWith(s, KMeans.fitBoundedCensus(Tables.yhOrders(s, dir), k = 4, dim = 2, tol = 0.01,
        lloydSteps = 64, fxScale = 1e4))),

    // ---- full fit loop (E1). Round 16: hash-gated via a PINNED-FIXTURE
    // census oracle (OracleSql.pinnedCensus) — the seeded k-means‖ fit is
    // measured deterministic across JVMs and cpu counts ----
    "km_fit" -> ((s, dir) => {
      KMeans.census(Tables.yhEmbeddings(s, dir), embFit(s, dir).centroids)
    }),

    // ---- mini-batch fit (Sculley 2010) — the web-scale variant: each
    // iteration scans only an LCG-drawn batch and nudges centroids with
    // per-centroid 1/n learning rates; ~2 full passes buy 20 iterations.
    // HASH-ORACLE-BACKED (OracleSql.kmFitMinibatch): the LCG batch draw,
    // first-k seeds, integer sufficient stats, IEEE-ordered learning-rate
    // updates and the movement stop all replay as unrolled CTEs — the
    // km_fit2_exact discipline extended to the whole mini-batch loop ----
    "km_fit_minibatch" -> ((s, dir) => {
      import s.implicits._
      KMeans.fitMiniBatchCensus(Tables.yhEmbeddings(s, dir), k = 8, dim = 64)._2.toDF("j", "n")
    }),

    // ---- the WCR centroid log (S2: append-only iteration history).
    // Runs the REAL fit loop (same iterate()/LogEntry machinery the
    // flagship embeddings fit uses) on the 2-D orders binding with the
    // deterministic first-k seeds and a bounded step budget, so the whole
    // log — seeds at step 0, every Lloyd step's centroids, the movement
    // stop — replays as an unrolled ANSI CTE and hash-matches (the
    // km_fit2_exact discipline extended to the log). The 64-dim k-means‖
    // flagship fit's log stays exercised via km_fit + KMeansSpec; it is
    // NOT mirrorable (its driver-side weighted refine draws from a PRNG
    // no ANSI engine replays). ----
    "km_wcr_log" -> ((s, dir) => {
      import s.implicits._
      val yh = Tables.yhOrders(s, dir).cache()
      val fit = KMeans.fit(yh, k = 4, dim = 2, tol = 0.01, maxIter = 3,
        fxScale = 1e4)
      yh.unpersist()
      fit.log.map(e => (e.step, e.j, e.c(0), e.c(1)))
        .toDF("step", "j", "cx", "cy")
    }),

    // ---- MLlib-native alternate fit path; hash-gated round 16 via the
    // pinned-fixture census (OracleSql.pinnedCensus) ----
    "km_fit_mllib" -> ((s, dir) => {
      val pts = Tables.yhEmbeddings(s, dir).cache()
      val fit = operators.KMeansML.fit(pts, k = 10)
      operators.KMeansML.transform(fit, pts)
        .groupBy("j").agg(count(lit(1)).as("n")).select(col("j"), col("n"))
    }),
    // bisecting (divisive hierarchical) k-means: top-down splits to k
    // leaves — MLlib's stable-under-bad-seeding variant; rows-only like
    // the other fits, cost comparability pinned in KMeansSpec. The fit is
    // memoized per dir (embFitBisecting) so the query times assignment
    // against the fitted model, like every other fitted query.
    "km_fit_bisecting" -> ((s, dir) => {
      val fit = embFitBisecting(s, dir)
      operators.KMeansML.transformBisecting(fit, Tables.yhEmbeddings(s, dir))
        .groupBy("j").agg(count(lit(1)).as("n")).select(col("j"), col("n"))
    }),

    // ---- dedup family (beyond-reference: training-data pipeline ops) ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.read(s, dir, "documents"))),
    // normalize-then-exact: case/punctuation/whitespace variants collapse
    // before the same groupBy — the cheap pass between exact and MinHash
    "dedup_normalized" -> ((s, dir) =>
      Dedup.exactNormalized(Tables.read(s, dir, "documents"))),
    // URL-level dedup — the first (cheapest) pass of a web-crawl pipeline:
    // canonicalize away scheme/www./case/tracking-params/trailing-slash
    // crawl variants, keep one doc per canonical page. The fixture derives
    // each doc's URL deterministically from (doc_id, source) with every
    // variant axis exercised; ~150 canonical pages absorb the 500 docs
    "dedup_url" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val urls = docs.select(col("doc_id"), concat(
        when(col("doc_id") % 2 === 0, "https://").otherwise("http://"),
        when(col("doc_id") % 3 === 0, "WWW.").otherwise(""),
        lit("W"), (col("doc_id") % 3).cast("string"), lit(".Example.com/p/"),
        (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 4 === 0, "/").otherwise(""),
        when(col("doc_id") % 5 === 0,
          concat(lit("?utm_source="), col("source"))).otherwise(lit("")))
        .as("url"))
      Dedup.urlDedup(urls)
    }),
    "dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccard(Tables.read(s, dir, "documents"), n = 3, thrNum = 1, thrDen = 5)),
    // duplicated-n-gram hotspot census (Lee et al.): top trigrams by total
    // occurrences among those occurring twice+, with cross-doc spread —
    // the memorization-risk table a dedup run publishes
    "dedup_hotspots" -> ((s, dir) =>
      Dedup.duplicationHotspots(Tables.read(s, dir, "documents"))),
    // skew-guarded form: stop-shingles (df > cap within the lang block) are
    // dropped from the postings, bounding the inverted-index join's per-key
    // fan-out to cap² — THE guard that keeps one boilerplate shingle with
    // df=10⁶ from creating 10¹² join rows on a single key at 100 TB
    "dedup_ngram_capped" -> ((s, dir) =>
      Dedup.ngramJaccard(Tables.read(s, dir, "documents"), n = 3, thrNum = 1, thrDen = 5,
        dfCap = 3)),
    // asymmetric CONTAINMENT (|A∩B|/|A|): catches a small doc quoted inside
    // a much larger one, which Jaccard's union denominator suppresses —
    // same inverted-index equi-join machinery as dedup_ngram
    "dedup_containment" -> ((s, dir) =>
      Dedup.containment(Tables.read(s, dir, "documents"), n = 3, thrNum = 3, thrDen = 10)),
    // exact duplicated-SUBSTRING spans (token-granular suffix-array dedup a
    // la Lee et al. 2022): maximal per-doc token ranges whose 5-grams occur
    // in >=2 distinct docs — postings-sized, gaps-and-islands merge
    "dedup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(Tables.read(s, dir, "documents"), n = 5)),
    // per-doc duplication profile over the spans: the "drop docs more than
    // X% copied" threshold input, in exact ppm
    "dedup_span_stats" -> ((s, dir) =>
      Dedup.spanStats(Tables.read(s, dir, "documents"), n = 5)),
    // the corpus REWRITE over the spans: cut every duplicated range and
    // stitch the survivors back in order (aggressive every-occurrence form)
    "dedup_span_removal" -> ((s, dir) =>
      Dedup.removeSpans(Tables.read(s, dir, "documents"), n = 5)),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLSH(Tables.read(s, dir, "documents"))),
    // winnowing fingerprints (MOSS, SIGMOD 2003): window-min gram hashes →
    // shared-fingerprint candidate pairs — the plagiarism-detector form of
    // near-dup candidate generation, catching long shared passages that
    // whole-doc Jaccard dilutes away
    "dedup_winnow" -> ((s, dir) =>
      Dedup.winnowPairs(Tables.read(s, dir, "documents"),
        k = 4, w = 5, minShared = 2)),
    // LSH parameter sweep: candidate volume / verified count / precision per
    // banding of the same 16-hash budget — the table that picks (bands, rows)
    // for a corpus BEFORE committing to an index build
    "dedup_lsh_tuning" -> ((s, dir) =>
      Dedup.lshTuning(Tables.read(s, dir, "documents"))),
    // the other half of the tuning table: measured recall of the banded
    // candidate stage vs the exact Jaccard ground truth, exact ppm
    "dedup_lsh_recall" -> ((s, dir) =>
      Dedup.lshRecall(Tables.read(s, dir, "documents"))),
    // b-bit minwise sweep: band on only the low b bits of each MinHash
    // value (b/32 the index bytes) and price the extra hash-collision
    // candidates verification must reject — candidate volume / verified /
    // precision per width, b=31 is the full-width baseline row
    "dedup_minhash_bbit" -> ((s, dir) =>
      Dedup.bbitSweep(Tables.read(s, dir, "documents"))),
    // estimator calibration: TRUE shingle Jaccard (exact ppm) grouped by
    // matching-signature count over the banded candidates — the measured
    // proof that matches/16 estimates Jaccard (the degenerate pre-fix
    // family put every pair at matches ∈ {0,16} regardless of overlap)
    "dedup_minhash_calibration" -> ((s, dir) =>
      Dedup.minhashCalibration(Tables.read(s, dir, "documents"))),
    // duplicate-CLUSTER resolution: min-label propagation over the MinHash
    // pair edges — every doc mapped to the min doc_id reachable through any
    // pair chain (singletons → self). The step between pairwise dedup output
    // and an actionable keep/drop set.
    "dedup_components" -> ((s, dir) => docComponents(s, dir)),
    // SOFT dedup: keep every doc, downweight duplicates to weight_ppm =
    // 1e6/cluster_size — the sampling-weight alternative to hard dropping
    // (total cluster mass stays 1 doc), off the shared component memo
    "dedup_soft" -> ((s, dir) => {
      val comp = docComponents(s, dir)
      comp.join(comp.groupBy("rep_id").agg(count(lit(1)).as("cluster_size")),
          "rep_id")
        .select(col("doc_id"), col("rep_id"), col("cluster_size"),
          expr("1000000 div cluster_size").as("weight_ppm"))
    }),
    // duplicate-cluster SIZE histogram — the distribution dedup papers
    // publish (how much of the corpus sits in 2-clusters vs mega-clusters):
    // component sizes from the shared memoized map, rolled to
    // (size, clusters, docs) rows
    "dedup_cluster_sizes" -> ((s, dir) =>
      docComponents(s, dir)
        .groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))),
    // the O(log n)-round scale path: alternating large-star/small-star
    // contraction (Kiveris et al. 2014) over the same LSH pair edges —
    // identical labels to the label-propagation form (same oracle), rounds
    // bounded by log(n) instead of cluster diameter
    "dedup_components_star" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      Dedup.connectedComponentsStar(docs, Dedup.minhashLSH(docs))
    }),
    // the keep-one corpus: one row per cluster (representative + size)
    "dedup_keep" -> ((s, dir) => Dedup.keepOne(docComponents(s, dir))),
    // leak-proof train/val/test split: every doc inherits its duplicate
    // CLUSTER's split (LCG over rep_id), so near-duplicates can never
    // straddle train and eval — the standard guard against benchmarks
    // silently measuring memorization
    "doc_split_leakproof" -> ((s, dir) =>
      Dedup.leakproofSplit(docComponents(s, dir))),
    // the release audit: contamination rate PER SPLIT — the leak-proof
    // split joined with the benchmark-overlap flags, so a contaminated
    // test slice is caught before anything ships
    "pipeline_split_contamination" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val split = Dedup.leakproofSplit(docComponents(s, dir))
        .select("doc_id", "split")
      val cont = Dedup.decontaminate(docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0))
        .select(col("doc_id"), col("contaminated"))
      split.join(cont, "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum("contaminated").as("n_contaminated"))
        .withColumn("cont_ppm", expr("n_contaminated * 1000000 div n_docs"))
    }),
    // production keep-rule: per duplicate cluster, keep the HIGHEST-QUALITY
    // doc (most tokens; ties -> lowest id) instead of the min-id label —
    // one max_by aggregation over components joined with per-doc stats
    "dedup_keep_best" -> ((s, dir) => {
      val ntok = Tables.read(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      docComponents(s, dir).join(ntok, "doc_id")
        .groupBy("rep_id")
        .agg(count(lit(1)).as("cluster_size"),
          max_by(col("doc_id"),
            struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("best_id"),
          max("n_tokens").as("best_tokens"))
    }),
    // edit-distance near-dup pairs (record linkage): codegen'd built-in
    // levenshtein over a 96-char prefix, candidates bounded by length-
    // bucket blocking turned into an EQUI-join via an adjacent-bucket
    // explode — one (lang, bucket) shuffle, never a cross join
    "dedup_edit" -> ((s, dir) =>
      Dedup.editPairs(Tables.read(s, dir, "documents"))),
    // preference-pair construction (the DPO/RLHF data-prep step): every
    // near-dup cluster with >=2 members yields one (chosen, rejected)
    // pair — chosen by the keep_best discipline, rejected its mirror —
    // one grouped max_by/min_by pass, no window, single rep_id shuffle
    "doc_pref_pairs" -> ((s, dir) => {
      val ntok = Tables.read(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Dedup.prefPairs(docComponents(s, dir), ntok)
    }),
    // incremental (delta-vs-corpus) dedup — the daily-crawl pattern: the
    // corpus's banded signatures persist as a bucketed index built once;
    // the delta batch (doc_id % 5 == 0) probes it with zero corpus re-read
    // and zero corpus-side shuffle (merge hint pins the bucket-aligned SMJ
    // the pattern exists for; PlansSpec asserts the exchange-free side)
    "dedup_incremental" -> ((s, dir) => {
      val idx = ensureMinhashIndex(s, dir)
      Dedup.incrementalDedup(
        Tables.read(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        s.table(idx).hint("merge"))
    }),
    // benchmark decontamination: n-gram overlap of every corpus doc against
    // the held-out set (doc_id % 97 here), the test-set-leakage guard of
    // public LLM pipelines; benchmark shingle ids broadcast by nature
    "dedup_decontaminate" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      Dedup.decontaminate(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0))
    }),
    "dedup_simhash" -> ((s, dir) =>
      // direct block join: this synthetic vocab clusters fingerprints so
      // heavily that pigeonhole chunks aren't selective (see simhashPairs)
      Dedup.simhashPairs(Tables.read(s, dir, "documents"), chunkBlocked = false)),
    // THE scale path for simhash: pigeonhole chunk blocking — candidates
    // from an equi-join on (lang, chunk idx, chunk value), lossless for
    // Hamming <= maxHamming by pigeonhole, so the oracle is the naive
    // pair form and must hash-match EXACTLY. Published at 48 bits /
    // Hamming <= 3 (4 chunks x 12 bits): wide chunks stay selective even
    // on this clustered synthetic vocab, which is precisely the
    // bits-per-chunk sizing call a production corpus needs
    "dedup_simhash_blocked" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.read(s, dir, "documents"), bits = 48,
        maxHamming = 3, chunkBlocked = true)),
    "dedup_embcos" -> ((s, dir) =>
      Dedup.embeddingCosine(Tables.read(s, dir, "embeddings"), thrE6 = 350000L)),
    // THE scale path for embedding near-dup: IVF cell blocking — candidates
    // from an equi-join on cell id (never a BroadcastNestedLoopJoin; asserted
    // in PlansSpec), exact cosine re-rank. dedup_embcos stays as the exact
    // all-pairs cross-check at small sf.
    "dedup_embcos_blocked" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Dedup.embeddingCosineBlocked(emb, embCells(s, dir),
        thrE6 = 350000L, nProbe = 2)
    }),
    // the 100×-scale twin: streamed per-cell scoring emits ONLY
    // over-threshold pairs (the knnGraphBlocked kernel applied to the
    // near-dup pair stage), SAME oracle as dedup_embcos_blocked — the
    // hash match proves the local loop is the identical pair set.
    // PRODUCTION CALLER of the AdaptiveCellRows sentinel (r17 verdict
    // task 6): the hot-cell cap resolves from the deployment's heap/cores
    // via derivedMaxCellRows instead of the fixed default. The derivation
    // is floored AT the default, so the adaptive cap can only be looser —
    // sf-scale cells never split under either bound (oracle hash
    // untouched; result-equality spec-pinned on this hardware in
    // DedupSpec), while a beefier executor class lifts the cap without a
    // redeploy.
    "dedup_embcos_local" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Dedup.embeddingCosineBlockedLocal(emb, embCells(s, dir),
        thrE6 = 350000L, nProbe = 2,
        maxCellRows = Similarity.AdaptiveCellRows)
    }),
    // SemDeDup (semantic dedup): coarse cells -> within-cell cosine pairs ->
    // transitive duplicate groups -> keep the lowest-centroid-cosine member
    // per group (the paper's keep-the-outlier rule). Composes the IVF cell
    // assignment, the cell equi-join, and connected components — every
    // stage already bounded at scale.
    "dedup_semantic" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Dedup.semanticDedup(emb, embCells(s, dir),
        thrE6 = 500000L)
    }),
    // measured recall CURVE of the cell blocking vs the exact all-pairs
    // set at dedup_embcos's production threshold — the sim_recall gauge
    // for the dedup side, one row per nProbe: each blocked pair carries
    // its FIRST-probe rank (min over shared cells of max(rank_a, rank_b)),
    // so ONE indexing pass prices every probe level and the curve (24% ->
    // 54% -> 93% -> 100% at sf0.01) is the instrument that picks
    // nCells/nProbe before anyone trusts the pruning
    "dedup_semantic_recall" -> ((s, dir) =>
      semanticRecallCurve(s, dir, thrE6 = 350000L)),
    // the SAME curve at dedup_semantic's own production threshold (0.50
    // cosine) — the instrument that adjudicates semanticDedup's single-cell
    // (nProbe = 1) blocking: at the tighter threshold near-dups co-assign
    // far more often than at 0.35, and the recorded decision lives in
    // Dedup.semanticDedup's scaladoc next to the knob it prices
    "dedup_semantic_probe" -> ((s, dir) =>
      semanticRecallCurve(s, dir, thrE6 = 500000L)),

    // ---- similarity search (beyond-reference) ----
    "sim_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.read(s, dir, "embeddings"))),
    // SQ8 compressed search: one byte per dimension against per-dim corpus
    // bounds, exact-integer symmetric code distances — the other standard
    // vector-store compression next to PQ (4× scan-bandwidth cut)
    "sim_sq8" -> ((s, dir) =>
      Similarity.sq8TopK(Tables.read(s, dir, "embeddings"))),
    // the same ranking through the NATIVE codegen'd code_sq_dist kernel —
    // one fused loop in whole-stage codegen, bit-identical, same oracle
    "sim_sq8_native" -> ((s, dir) =>
      Similarity.sq8TopKNative(Tables.read(s, dir, "embeddings"))),
    "sim_ivf" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.ivfTopK(emb, embCells(s, dir))
    }),
    // k-center coreset selection: farthest-point traversal (Gonzalez),
    // k diversity-maximizing exemplars + the covering radius as each joins
    "sim_kcenter" -> ((s, dir) =>
      Similarity.kcenter(Tables.read(s, dir, "embeddings"))),
    // IVF cell occupancy census: per-cell count, share, and load factor vs
    // the even split — the skew gauge that decides a quantizer re-fit
    "sim_cell_balance" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.cellBalance(emb, embCells(s, dir))
    }),
    // the census's DECISION CONSUMER (round 16 — the recall-driven-nProbe
    // pattern applied to occupancy): worst cell load vs the documented
    // 3x-even-share bound, plus the re-fit verdict. cellsRebalanced acts
    // on it (re-fit trigger proven on a misaligned planted quantizer in
    // SimilaritySpec: 625 -> refit -> 200)
    "sim_cell_rebalance" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.rebalanceDecision(emb, embCells(s, dir))
    }),
    // two-level coarse assignment (the FAISS-IMI shape past ~10⁴ flat
    // cells): per-vector flat pick vs super→child pick plus the agreement
    // flag — the operator IS its own accuracy instrument, hash-exact
    "sim_cells_twolevel" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.assignTwoLevel(emb, embCells(s, dir), nSuper = 4)
    }),
    // the routed-build CHOOSER's gate as a published query (round 17):
    // sampled flat-vs-routed agreement aggregated to the one-row decision
    // buildIvfIndexAuto acts on. At oracle scale the deterministic
    // xxhash64 sample covers the whole corpus (n <= sampleN), so the
    // DuckDB mirror replays the full two-level agreement and aggregates —
    // hash-exact; the sub-corpus sampling path is spec-pinned at scale
    // (SimilaritySpec planted/near-uniform arms).
    "sim_route_decision" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val cells = embCells(s, dir)
      Similarity.routeDecision(emb, cells, cells.sortBy(_.j).take(4),
        sampleN = 2048)
    }),
    // hybrid retrieval fusion — the composition a RAG data pipeline ships:
    // BM25 over each query doc's top-TFIDF pseudo-query terms (sparse) +
    // IVF ANN over the query vector (dense), fused per query with
    // reciprocal-rank fusion in exact integer fixed point
    // the same fusion FULLY INDEX-SERVED: sparse half off the persisted
    // token-bucketed TF index, dense half off the persisted IVF cell
    // index — zero corpus tokenize/assignment at query time, same oracle
    "retrieval_hybrid_indexed" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val idx = ensureIvfIndex(s, dir)
      val dense = Similarity.ivfTopKIndexed(emb, idx.table, idx.cells)
        .select(col("q_id"), col("n_id").as("doc_id"),
          col("rnk").as("rnk_dense"))
      Retrieval.hybridRrfIndexed(s.table(ensureTfIndex(s, dir)), dense)
    }),
    "retrieval_hybrid" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Retrieval.hybridRrf(Tables.read(s, dir, "documents"), emb,
        embCells(s, dir))
    }),
    // measured recall@k of the IVF search vs brute force, per query, in
    // exact ppm — the gauge that justifies (or vetoes) a probe-count trade
    "sim_recall" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.annRecall(
        Similarity.bruteForceTopK(emb),
        Similarity.ivfTopK(emb, embCells(s, dir)))
    }),
    // the rank-position view of the same trade: where does the TRUE nearest
    // neighbor land in the IVF ranking — reciprocal rank per query in exact
    // ppm (0 = missed entirely); the mean over queries is MRR@k
    "retrieval_mrr" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.mrr(
        Similarity.bruteForceTopK(emb),
        Similarity.ivfTopK(emb, embCells(s, dir)))
    }),
    // label-relevance nDCG@10 of the IVF ranking — the graded
    // retrieval-quality metric next to MRR; integer discount-weight
    // literals shared with the oracle, so neither engine computes a log
    "retrieval_ndcg" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.ndcgAtK(emb, Similarity.ivfTopK(emb, embCells(s, dir)))
    }),
    // matryoshka (prefix-dimension) recall curve: rank on only the first
    // 8/16/32/64 dims and measure each truncation against the full-dim
    // top-k — the MRL storage/recall gauge (a d-dim probe reads d/64 of
    // the vector bytes); the d=64 row is the built-in 10⁶ sanity row
    "emb_matryoshka" -> ((s, dir) =>
      Similarity.matryoshkaRecall(Tables.read(s, dir, "embeddings"))),
    // pseudo-relevance-feedback expansion (Rocchio-lite): BM25 round 1 →
    // top-3 feedback docs → top-2 new terms by summed tf → BM25 round 2
    // with the expanded query — the classical lexical recall lever, both
    // rounds through the shared Okapi kernel, hash-exact end to end
    "retrieval_prf" -> ((s, dir) =>
      Retrieval.prfBm25(Tables.read(s, dir, "documents"))),
    // the same two-round expansion FULLY off the persisted token-bucketed
    // TF index — zero corpus tokenize at query time, same oracle
    "retrieval_prf_indexed" -> ((s, dir) =>
      Retrieval.prfBm25FromTf(s.table(ensureTfIndex(s, dir)))),
    // 1-bit binary embedding search: per-dim sign bits packed into two
    // 32-bit words (8 bytes per 64-dim vector, a 32× scan cut), Hamming
    // shortlist via xor-popcount, exact cosine re-rank of the top 30
    "sim_binary" -> ((s, dir) =>
      Similarity.binaryTopK(Tables.read(s, dir, "embeddings"))),
    // the same ranking off the PERSISTED code table (build/probe split):
    // the pack paid once, probes scan stored 16-byte codes — same oracle
    "sim_binary_indexed" -> ((s, dir) =>
      Similarity.binaryTopKIndexed(Tables.read(s, dir, "embeddings"),
        ensureBinaryIndex(s, dir))),
    // IVF + 1-bit (FAISS IndexBinaryIVF shape) — the compression×blocking
    // matrix's last cell next to IVF-PQ and IVF-SQ8: probes Hamming-scan
    // only the probed cells' 16-byte codes, exact rerank on the shortlist
    "sim_ivfbin" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.ivfBinaryTopK(emb, embCells(s, dir))
    }),
    // the measured price of 1 bit/dim: recall@10 of the binary ranking vs
    // exact cosine, per query, exact ppm — the gauge before anyone ships it
    "sim_binary_recall" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.annRecall(
        Similarity.bruteForceTopK(emb),
        Similarity.binaryTopK(emb))
    }),
    // the IVF recall CURVE: recall@10 per probe level (1/2/4/8) priced in
    // ONE indexing pass — each candidate carries its cell's probe rank, so
    // every level's ranking cuts the same relation (the instrument that
    // picks nProbe, the dedup_semantic_recall shape for top-k search)
    "sim_recall_curve" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.ivfRecallCurve(emb, embCells(s, dir))
    }),
    // the production-claimed composition, actually composed: coarse cells
    // from a REAL k-means++ + Lloyd fit over the L2-NORMALIZED embeddings
    // (spherical cells — the geometrically sound blocking for cosine; see
    // Similarity.normalize). The fit is the BOUNDED oracle-replayable form
    // (KMeans.fitBounded — the km_gap_fitted discipline), so the whole
    // query, fit included, is DuckDB hash-checked; fitted-cell recall vs
    // brute force stays pinned in SimilaritySpec.
    "sim_ivf_fitted" -> ((s, dir) => {
      val embN = Similarity.normalize(Tables.read(s, dir, "embeddings"))
      Similarity.ivfTopK(embN, embFitBoundedNorm(s, dir).centroids, nProbe = 3)
    }),
    // the build/probe split every vector store runs: cells persisted ONCE as
    // a bucketed-by-cell table (ensureIvfIndex), probes equi-join co-located
    // buckets with no index-side Exchange and no query-time assignment.
    // Same oracle as sim_ivf: the stored doubles roundtrip parquet exactly.
    "sim_ivf_indexed" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val idx = ensureIvfIndex(s, dir)
      Similarity.ivfTopKIndexed(emb, idx.table, idx.cells)
    }),
    // index FRESHNESS: the persisted index plus an un-indexed delta batch
    // (every 10th vector re-keyed under +1e6 — "new docs since the build"),
    // searchable immediately with zero rebuild and zero corpus shuffle;
    // the oracle proves the delta's cos=1e6 duplicates surface in top-k
    "sim_ivf_delta" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val delta = emb.filter(col("vec_id") % 10 === 7)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      val idx = ensureIvfIndex(s, dir)
      Similarity.ivfTopKDelta(emb, idx.table, delta, idx.cells)
    }),
    // the same brute-force ranking planned through the NATIVE two-phase
    // top-k-per-group operator (plans/TopKPerGroupPlan.scala): candidates
    // pruned to k per (query, partition) BELOW the shuffle — same oracle
    // as sim_topk, TopKSpec pins the pruned exchange volume
    "sim_topk_native" -> ((s, dir) =>
      Similarity.bruteForceTopKNative(Tables.read(s, dir, "embeddings"))),
    // LSH ANN (sign random projections): the second classic ANN blocking
    // scheme next to IVF — candidates from an equi-join on (table, bucket),
    // exact cosine re-rank
    "sim_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Tables.read(s, dir, "embeddings"))),
    // RANGE (radius) search — the other fundamental vector-store query next
    // to top-k: every neighbor with cos >= 0.25, through the same IVF probe
    // plan (equi-join on the nProbe nearest cells), threshold cut instead
    // of rank cut so output size follows true neighborhood density
    "sim_range" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.ivfRange(emb, embCells(s, dir))
    }),
    // the same radius search probing the PERSISTED bucketed cell index —
    // the build/probe split (amortize the cell assignment once, probe many
    // times) extends to range queries unchanged
    "sim_range_indexed" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val idx = ensureIvfIndex(s, dir)
      Similarity.ivfRangeIndexed(emb, idx.table, idx.cells)
    }),
    // mutual k-NN graph over ALL vectors (not a query handful): cell-blocked
    // candidates, per-vector top-k window, mutuality via a self-join on the
    // transposed directed edge list — the input structure of graph-based
    // clustering/dedup
    "sim_knn_graph" -> ((s, dir) => knnEdges(s, dir)),
    // the 100×-scale twin: per-cell LOCAL brute force after a sort-within-
    // partitions by cell (n·k·nProbe candidate rows leave the executors,
    // vs |cell|²·nProbe² join rows per cell), SAME oracle as sim_knn_graph
    // — the hash match proves the blocked build is the identical graph
    "sim_knn_graph_blocked" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.knnGraphBlocked(emb, embCells(s, dir))
    }),
    // integer fixed-point PageRank over the mutual k-NN graph: 5 exact
    // floor-arithmetic iterations (Pregel shape — one equi-join + one
    // grouped sum per round), replayed by an unrolled-CTE oracle; the
    // representative-document selection signal next to SemDeDup's removal
    "sim_graph_rank" -> ((s, dir) =>
      Similarity.graphRankFromEdges(Tables.read(s, dir, "embeddings"),
        knnEdges(s, dir))),
    // multi-source BFS over the mutual k-NN graph: frontier joins + settled
    // anti-join, per-round work O(|frontier|·k) — hop-from-seed distances
    // for diversity-aware selection; recursive-CTE oracle
    "sim_bfs" -> ((s, dir) =>
      Similarity.bfsFromEdges(knnEdges(s, dir), sources = Seq(0L, 1L, 2L, 3L),
        maxHops = 4)),
    // embedding OOD / novelty score: per-vector nearest-cell distance
    // z-scored against that cell's own distance distribution — the
    // distribution-shift gate on incoming data; zero-shuffle assignment +
    // one k-row census broadcast back
    "sim_ood" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.oodScore(emb, embCells(s, dir))
    }),
    // contrastive hard-negative mining: per anchor, the top different-label
    // candidates by cosine out of the blocked cells — the training-pair
    // miner for embedding models
    "sim_hard_negatives" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.hardNegatives(emb, embCells(s, dir))
    }),
    // product quantization: 8 sub-codes per 64-dim vector off the
    // deterministic seed codebook — the 128x vector-compression step of
    // IVF-PQ; zero-shuffle literal-codebook argmin per row
    // first principal component (rows-only: iterative float eigen fit):
    // one-scan exact sufficient stats + driver power iteration; MLlib PCA
    // direction parity pinned in SimilaritySpec
    "emb_pca" -> ((s, dir) =>
      Similarity.pca1(Tables.read(s, dir, "embeddings"))),
    // 2-component PCA whitening (the SemDeDup-style embedding pre-pass):
    // one treeAggregate sufficient-stats scan (driver holds ONE d+d2
    // payload at any partition count), driver power iteration + exact
    // rank-one deflation, zero-shuffle broadcast-literal projection;
    // hash-exact vs the unrolled-CTE deflated-power-iteration mirror
    "emb_whiten" -> ((s, dir) =>
      Similarity.whiten2(Tables.read(s, dir, "embeddings"))),

    "emb_pq" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.pqEncode(emb, Similarity.pqCodebook(emb))
    }),
    // the PQ search half: asymmetric-distance top-k over the compressed
    // codes (the broadcast query scan is the declared-baseline shape, like
    // sim_topk; recall vs exact is pinned in SimilaritySpec)
    "sim_pq_adc" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.pqAdcTopK(emb, Similarity.pqCodebook(emb))
    }),
    // two-stage retrieval: ADC over 4-byte codes nominates a 50-candidate
    // shortlist, whose raw vectors alone are fetched (equi-join on vec_id)
    // for the exact-cosine re-rank — the production PQ query shape
    "sim_pq_rerank" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.pqRerankTopK(emb, Similarity.pqCodebook(emb))
    }),
    // IVF-PQ: the full 100 TB ANN composition — one zero-shuffle pass
    // stores (cell, codes) per vector, probes rank only the probed cells'
    // compressed codes by ADC lookup; cell pruning and PQ quantization
    // compose, the code scan is no longer exhaustive
    "sim_ivfpq" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, embCells(s, dir),
        Similarity.pqCodebook(emb))
    }),
    // IVF + SQ8 composed (the FAISS IVF-SQ shape): one per-row pass stores
    // (cell, byte-codes); probes ADC-rank only the probed cells' codes by
    // exact-integer symmetric SQ8 distance
    "sim_ivfsq8" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.ivfSq8TopK(emb, embCells(s, dir))
    }),
    // the IVF-SQ8 build/probe split: byte codes persisted ONCE bucketed by
    // cell; probes equi-join co-located buckets with no index-side Exchange
    // and zero query-time encoding. Same oracle as sim_ivfsq8 (codes are
    // exact integers — the parquet roundtrip is lossless)
    "sim_ivfsq8_indexed" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val (mn, mx) = Similarity.sq8Bounds(emb)
      Similarity.ivfSq8TopKIndexed(emb, ensureIvfSq8Index(s, dir),
        embCells(s, dir), mn, mx)
    }),
    // the IVF-PQ build/probe split: (cell, codes) persisted ONCE as a
    // bucketed-by-cell table (ensureIvfPqIndex), probes equi-join
    // co-located buckets with no index-side Exchange and zero query-time
    // assignment/encoding. Same oracle as sim_ivfpq: codes are exact
    // integers, the parquet roundtrip is lossless.
    "sim_ivfpq_indexed" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.ivfPqTopKIndexed(emb, ensureIvfPqIndex(s, dir),
        embCells(s, dir), Similarity.pqCodebook(emb))
    }),
    // semantic corpus clustering rollup (the topic-level census behind
    // cluster-aware data mixing, SemDeDup-style): assign each doc's
    // EMBEDDING to a coarse cell (zero-shuffle literal-centroid argmin),
    // join the TEXT side on the shared id, and roll up docs/tokens/top
    // language per cell — the one query that fuses both modalities' tables
    "pipeline_cluster_stats" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val cents = embCells(s, dir)
      val cells = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"),
          nearestId(col("v"), cents.map(_.j), cents.map(_.c)).as("cell"))
      val docs = Tables.read(s, dir, "documents").select(col("doc_id"),
        col("lang"), size(Dedup.tokens(col("text"))).cast("long").as("n_tok"))
      val j = cells.join(docs, cells("vec_id") === docs("doc_id"))
      val base = j.groupBy("cell").agg(
        count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
      val wTop = Window.partitionBy("cell")
        .orderBy(desc("nl"), asc("lang"))
      val top = j.groupBy("cell", "lang").agg(count(lit(1)).as("nl"))
        .withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
        .select(col("cell"), col("lang").as("top_lang"),
          col("nl").as("top_lang_docs"))
      base.join(top, "cell")
    }),

    // the production-claimed PQ composition, actually composed: per-subspace
    // TRAINED codebooks — first-k seeds + 2 fixed-point Lloyd steps per
    // subspace (the km_fit2_exact discipline ×8), so the ENTIRE training
    // replays as unrolled CTEs and the codes hash-match a DuckDB oracle;
    // fitted-beats-seed quantization error is pinned in SimilaritySpec
    "emb_pq_fitted" -> ((s, dir) =>
      Similarity.pqEncode(Tables.read(s, dir, "embeddings"),
        pqFittedCb(s, dir))),
    // embedding post-processing: L2 norm + int8 quantization (pre-index shrink)
    "emb_normalize" -> ((s, dir) =>
      Similarity.normalizeQuantize(Tables.read(s, dir, "embeddings"))),

    // ---- text analysis (beyond-reference) ----
    "text_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables.read(s, dir, "documents"))),
    // detector agreement matrix: where the word-level and char-trigram
    // language IDs agree/disagree, per (guess, guess) cell — the diagnostic
    // that says when the cheap detector suffices and where to escalate
    "text_langid_agree" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val w = TextAnalysis.langId(docs)
        .select(col("doc_id"), col("guess").as("guess_word"))
      val c = TextAnalysis.langIdNgram(docs)
        .select(col("doc_id"), col("guess").as("guess_char"))
      w.join(c, "doc_id").groupBy("guess_word", "guess_char")
        .agg(count(lit(1)).as("n"))
    }),
    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(Tables.read(s, dir, "documents"))),
    // char-trigram twin of the word-level langId (n-gram heuristic)
    "text_langid_ngram" -> ((s, dir) =>
      TextAnalysis.langIdNgram(Tables.read(s, dir, "documents"))),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.read(s, dir, "documents"))),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.read(s, dir, "documents"))),
    "text_chunk" -> ((s, dir) =>
      TextAnalysis.chunk(Tables.read(s, dir, "documents"))),
    "text_topk_tokens" -> ((s, dir) =>
      TextAnalysis.topkTokens(Tables.read(s, dir, "documents"))),
    "doc_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(Tables.read(s, dir, "documents"))),
    // n-gram novelty: share of each doc's shingles it is the FIRST (lowest
    // doc_id) to contribute — the diversity signal that demotes documents
    // that only re-cover already-seen text; postings-sized, never pairwise
    "text_novelty" -> ((s, dir) =>
      TextAnalysis.noveltyScore(Tables.read(s, dir, "documents"))),
    // sentence segmentation census: terminator-run split, per-row only
    // Flesch-style reading ease: exact word/sentence/vowel-run counts, the
    // textbook formula at e2 fixed point — the prose-difficulty signal
    "text_readability" -> ((s, dir) =>
      TextAnalysis.readability(Tables.read(s, dir, "documents"))),
    "text_sentences" -> ((s, dir) =>
      TextAnalysis.sentenceStats(Tables.read(s, dir, "documents"))),
    // language-balanced corpus: every language keeps the min per-language
    // count in deterministic doc order — the rebalancing step of a
    // multilingual mix
    "doc_balance" -> ((s, dir) =>
      TextAnalysis.balanceByLang(Tables.read(s, dir, "documents"))),
    // per-source MEDIAN length gate: relative-quality filter that adapts to
    // each source's own distribution instead of one global constant
    "doc_quality_gate" -> ((s, dir) =>
      TextAnalysis.qualityQuantileGate(Tables.read(s, dir, "documents"))),
    // TF-IDF keyword extraction: top-3 terms per doc by the log-free
    // rational score tf·N·1e6/df (integer-domain; ranking-equivalent to
    // tf·ln(N/df) for fixed N — see TextAnalysis.tfidf)
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidf(Tables.read(s, dir, "documents"))),
    // BM25 retrieval against the data-derived top-term query: rational IDF
    // (ln-free, same discipline as tfidf), exact Okapi tf saturation,
    // TakeOrdered k-cut — the classic sparse-retrieval scorer
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(Tables.read(s, dir, "documents"))),
    // the same rankings off the PERSISTED token-bucketed TF inverted index
    // (build/probe split — the lexical twin of sim_ivf_indexed): no corpus
    // tokenize/explode and no df/N rollup at query time (the index rows
    // carry df, n_docs and total_len), same oracles. DELIBERATELY
    // un-persisted probe reads: each is a pruned columnar read of the
    // pre-aggregated bucketed table — the production probe shape at any
    // index size, where caching a corpus×token relation in memory is
    // exactly what doesn't scale (the funnel-family rule; walls already sit
    // below the direct forms' floors)
    "text_tfidf_indexed" -> ((s, dir) =>
      TextAnalysis.tfidfFromTf(s.table(ensureTfIndex(s, dir)))),
    "text_bm25_indexed" -> ((s, dir) =>
      TextAnalysis.bm25FromTf(s.table(ensureTfIndex(s, dir)))),
    // Gopher-style repetition signals: distinct/total tokens, top-token
    // count, repeated 2-gram instances — the degenerate-text filters
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables.read(s, dir, "documents"))),
    // token budgeting under both conventions: whitespace + BPE-ish regex
    "text_tokens_bpe" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables.read(s, dir, "documents"))),
    // tokenizer fertility census per (lang, source): BPE-ish tokens per
    // whitespace word and chars per token in fixed point — the tokenizer-
    // efficiency numbers that size a training run's real token budget
    "text_fertility" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      TextAnalysis.tokenCounts(d)
        .join(d.select(col("doc_id"), col("lang"), col("source"),
          col("n_chars")), "doc_id")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
          sum("n_ws_tokens").as("ws_toks"),
          sum("n_bpe_tokens").as("bpe_toks"))
        .withColumn("fertility_ppm",
          expr("bpe_toks * 1000000 div greatest(ws_toks, 1)"))
        .withColumn("chars_per_tok_x100",
          expr("chars * 100 div greatest(bpe_toks, 1)"))
    }),
    // T5 span-corruption planning census: LCG seed positions at 15%,
    // 3-token spans, overlaps merged — closed-form per position, zero
    // shuffle, the masked-share bookkeeping behind denoising pretraining
    "doc_span_corruption" -> ((s, dir) =>
      TextAnalysis.spanCorruption(Tables.read(s, dir, "documents"))),
    // sequence packing: fixed token-budget batch assignment by per-lang
    // prefix sum — the concat-and-chunk fill step before pretraining
    "doc_pack" -> ((s, dir) =>
      TextAnalysis.packBatches(Tables.read(s, dir, "documents"))),
    // corpus mixing: per-source token budgets (derived from the source id so
    // the same formula runs at every SF) fill in deterministic doc order —
    // the source-weighting step of a pretraining data mix
    "doc_mix" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val budgets = docs.select(col("source")).distinct()
        .withColumn("budget",
          sourceBudget)
      TextAnalysis.mixCorpus(docs, budgets)
    }),
    // UniMax-style epoch allocation: a total token budget waterfilled
    // across sources ascending by mass, repetition capped at 4 epochs —
    // the "how often may each source repeat" input to the data mix
    "doc_epochs" -> ((s, dir) =>
      TextAnalysis.epochAllocation(Tables.read(s, dir, "documents"),
        budget = 15000L, maxEpochs = 4)),
    // the Gopher quality gate as an attrition funnel: six rules in fixed
    // order, one row per rule with entered/dropped/survived counts — the
    // per-rule accounting a corpus build publishes
    "text_gopher_gate" -> ((s, dir) =>
      TextAnalysis.gopherGate(Tables.read(s, dir, "documents"))),
    // corpus datasheet: the per-source release table — doc/token mass,
    // language spread, quality pass rate, exact-duplicate rate — from ONE
    // fused per-doc projection
    "corpus_datasheet" -> ((s, dir) =>
      TextAnalysis.corpusDatasheet(Tables.read(s, dir, "documents"))),
    // temperature-scaled source mixing (T = 2): isqrt weights, a fixed
    // token budget split by largest-remainder rounding so Σ alloc == budget
    "doc_mix_temperature" -> ((s, dir) =>
      TextAnalysis.temperatureMix(Tables.read(s, dir, "documents"))),
    // curriculum bucketing: mean-document-frequency difficulty, easy→hard
    // total order, four equal-token phases via a two-level prefix sum
    "doc_curriculum" -> ((s, dir) =>
      TextAnalysis.curriculum(Tables.read(s, dir, "documents"))),
    // overlapping context-window chunking: 64-token windows, stride 48 —
    // the RAG / long-context pre-processing split; bounded explode, no
    // shuffle, output linear in corpus tokens
    "doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunkOverlap(Tables.read(s, dir, "documents"),
        chunkToks = 64, stride = 48)),
    // right-to-be-forgotten delete propagation (the takedown/GDPR pass):
    // forget set -> corpus -> derived chunks -> duplicate-cluster keeper
    // re-election, as broadcast anti-joins + one grouped components pass;
    // (metric, value) census rows (unions of one-row aggregates, NLJ-free
    // by construction) ending with the orphan-chunk audit the oracle pins
    // at zero
    "doc_forget" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      Dedup.forgetPropagate(docs,
        TextAnalysis.chunkOverlap(docs, chunkToks = 64, stride = 48),
        docComponents(s, dir))
    }),
    // k-anonymity generalization-lattice search (the governance release
    // gate next to doc_forget): Samarati rule — suppress sub-k classes,
    // climb the (lang, source, length-bucket) lattice until suppression
    // fits the 5% budget; |levels| grouped censuses, 4 rows to the driver
    "doc_kanon" -> ((s, dir) =>
      TextAnalysis.kAnonLattice(Tables.read(s, dir, "documents"))),
    // Zipf rank-frequency fit over the top-100 unigrams: slope/intercept/r²
    // in e6 fixed point — the corpus-health gauge next to text_vocab_curve
    "text_zipf" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.read(s, dir, "documents"), topN = 100)),
    // count-min sketch (custom TypedImperativeAggregate, transparent hash
    // family): fixed d×w state summarizes corpus token frequencies; top-20
    // exact counts ride alongside their sketch estimates (est >= exact by
    // construction; equal here — the vocab is far below the width). The
    // 1-row sketch crossJoin is the scalar-subquery plan (allowlisted).
    "text_cms" -> ((s, dir) => {
      val ids = Tables.read(s, dir, "documents")
        .select(graft.plans.native.token_ids(col("text")).as("ids"))
      val sk = ids.agg(graft.plans.native.cms_sketch(col("ids")).as("cms"))
      val exact = ids.select(explode(col("ids")).as("id"))
        .groupBy("id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("id")).limit(20)
      exact.crossJoin(broadcast(sk))
        .select(col("id"), col("exact_cnt"),
          graft.plans.native.cms_estimate(col("cms"), col("id")).as("est"))
    }),
    // PII scrub: the fixture has no natural PII, so augment each row with
    // doc_id-derived contact strings (deterministic, oracle-reproducible) —
    // every row then exercises all three redaction patterns
    "text_pii_redact" -> ((s, dir) =>
      TextAnalysis.piiRedact(
        Tables.read(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit(" contact "), col("source"),
            col("doc_id").cast("string"), lit("@mail.example.com tel +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" host 10."), (col("doc_id") % 256).cast("string"),
            lit(".0.1 end")).as("text")))),

    // pairwise source-distribution divergence: chi-square-shaped distance
    // over token counts, exact end to end (128-bit intermediates, per-term
    // floor division + closed-form private-token totals) — the mixture
    // diagnostic that says which sources add genuinely different text
    "text_source_chi2" -> ((s, dir) =>
      TextAnalysis.sourceChi2(Tables.read(s, dir, "documents"))),
    // per-domain rollup for domain-level filtering: the fixture has no
    // URLs, so each doc gets a deterministic synthetic one (subdomain from
    // doc_id, domain from source, tld alternating) — 40 domains roll up
    "text_domains" -> ((s, dir) =>
      TextAnalysis.domainStats(
        Tables.read(s, dir, "documents").select(col("doc_id"), col("text"),
          concat(lit("https://w"), (col("doc_id") % 3).cast("string"),
            lit("."), col("source"), lit(".example."),
            when(col("doc_id") % 2 === 0, "com").otherwise("org"),
            lit("/p/"), col("doc_id").cast("string")).as("url")))),

    // URL blocklist filter: the same synthetic URLs as text_domains; the
    // blocklist carries every src1 domain (both tlds) — those docs drop,
    // everything else survives with its parsed host/domain attached
    "text_url_filter" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://w"), (col("doc_id") % 3).cast("string"),
          lit("."), col("source"), lit(".example."),
          when(col("doc_id") % 2 === 0, "com").otherwise("org"),
          lit("/p/"), col("doc_id").cast("string")).as("url"))
      val block = docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("src1.example.com"),
          org.apache.spark.sql.Row("src1.example.org")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("domain",
            org.apache.spark.sql.types.StringType))))
      TextAnalysis.urlFilter(docs, block)
    }),

    // line-level boilerplate removal: the fixture is single-line, so each
    // doc gains a deterministic header (3 variants — each ~n/3 occurrences)
    // and a shared footer; both exceed the df cap and are stripped, the
    // unique middle line survives
    "text_boilerplate" -> ((s, dir) =>
      TextAnalysis.removeBoilerplate(mlDocs(s, dir), maxDf = 10)),

    // corpus-wide paragraph dedup over the same synthesized lines: each
    // header variant survives only in its first (doc_id, pos) home, the
    // footer only in doc 0 — CCNet's paragraph-hash pass
    "dedup_paragraph" -> ((s, dir) =>
      TextAnalysis.dedupParagraphs(mlDocs(s, dir))),

    // content-defined chunking: boundaries follow the content hash, so the
    // prefixed twins (every 5th doc re-added under "zzz " + text) still
    // share every chunk after their first boundary — the shift-robust
    // dedup family fixed windows can't provide
    "dedup_cdc" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val shifted = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat(lit("zzz "), col("text")).as("text"))
      Dedup.cdcStats(docs.unionByName(shifted))
    }),

    // unigram-LM familiarity: integer bitlen(corpus count) per token —
    // the KenLM-perplexity role in exact arithmetic
    "text_unigram_lm" -> ((s, dir) =>
      TextAnalysis.unigramLm(Tables.read(s, dir, "documents"))),
    // CCNet head/middle/tail: familiarity terciles over the unigram score —
    // the tri-level web-corpus quality split (head = most LM-familiar)
    "doc_ppl_buckets" -> ((s, dir) =>
      TextAnalysis.pplBuckets(Tables.read(s, dir, "documents"))),
    // Zipf coverage deciles: cumulative corpus mass per vocabulary-rank
    // decile — the table a vocab-size decision reads
    "text_vocab_curve" -> ((s, dir) =>
      TextAnalysis.vocabCurve(Tables.read(s, dir, "documents"))),
    // code-vs-prose routing: per-mille densities of code-indicative chars
    // (translate-based exact counts, regex-free), integer-threshold flag
    "text_code_detect" -> ((s, dir) =>
      TextAnalysis.codeDetect(Tables.read(s, dir, "documents"))),
    // DSIR importance score: bitlen log-likelihood ratio of the target
    // domain's unigram LM vs the corpus LM, add-one smoothed — the
    // importance-resampling data-selection signal
    "doc_dsir" -> ((s, dir) =>
      TextAnalysis.dsirScore(Tables.read(s, dir, "documents"))),

    // bigram-LM familiarity: the word-ORDER-sensitive next order (shuffled
    // fluent tokens keep unigram score, lose bigram score)
    "text_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLm(Tables.read(s, dir, "documents"))),
    // interpolated Kneser-Ney bigram probabilities (discount 3/4) for the
    // top-50 bigrams, in exact integer quarters/ppm — the standard n-gram
    // LM smoothing, replayed floor-division-for-floor-division by DuckDB
    "text_kn_lm" -> ((s, dir) =>
      TextAnalysis.knBigramTop(Tables.read(s, dir, "documents"))),

    // BPE training's merge statistic: frequency-weighted adjacent-symbol
    // pair counts over the char start state, top-20 deterministic cut
    // ("lft"/"rgt" aliases — LEFT/RIGHT are SQL keywords)
    "text_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(
        TextAnalysis.bpeWords(Tables.read(s, dir, "documents")))
        .select(col("left").as("lft"), col("right").as("rgt"), col("cnt"))
        .orderBy(desc("cnt"), asc("lft"), asc("rgt")).limit(20)),

    // the full tokenizer-training loop: 5 learned merges, oracle-exact —
    // the bounded merge loop unrolls into 5 CTE layers (argmax + a
    // delimiter-encoded replace per layer, OracleSql.textBpeTrain); the
    // merge sequence is also pinned on a hand-computed corpus in
    // TextEventsSpec
    "text_bpe_train" -> ((s, dir) =>
      s.createDataFrame(TextAnalysis.bpeTrain(Tables.read(s, dir, "documents")))),

    // the train -> apply split of tokenizer deployment: the learned merges
    // fold over every vocabulary word (per-row, no shuffle past the one
    // bpeWords groupBy); oracle replays the same unrolled layers and reads
    // the final segmentation state
    "text_bpe_apply" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      TextAnalysis.bpeSegment(docs, TextAnalysis.bpeTrain(docs))
    }),

    // zero-extra-pass quality counters via Dataset.observe (CollectMetrics):
    // the aggregates ride the pipeline's own materialization as accumulator
    // partials — a second scan never happens; oracle replays them
    // relationally
    "q_observe" -> ((s, dir) =>
      Profiling.observedCounters(Tables.read(s, dir, "lineitem"), Seq(
        "n_rows" -> count(lit(1)).cast("long"),
        "n_high_disc" -> sum(when(col("l_discount") > 0.06, 1L).otherwise(0L))
          .cast("long"),
        "sum_qty" -> sum(round(col("l_quantity")).cast("long")).cast("long")))),

    // one-scan per-column census of the widest table (schema-dynamic:
    // the operator reads the DataFrame's own schema)
    // exact census, per-column concurrent shape (no Expand) — values are
    // identical to Profiling.profile, so the oracle is unchanged
    "q_profile" -> ((s, dir) =>
      Profiling.profileFast(Tables.read(s, dir, "lineitem"))),
    // data-expectation contract checks (dbt-test shape): one scan for all
    // predicate rules + one key-uniqueness groupBy; the discount contract
    // is deliberately tighter than the data — and this synthetic lineitem's
    // composite key is genuinely non-unique — so violation REPORTING (not
    // just the all-pass path) is exercised
    // Pearson correlation census over lineitem's measures: exact integer
    // sufficient statistics in one scan, fixed double formula per pair.
    // Pre-scales: quantity units, price whole dollars (cents would push
    // sum(p^2) past long at sf>=0.01), discount/tax basis points
    "q_corr" -> ((s, dir) =>
      Profiling.correlations(Tables.read(s, dir, "lineitem"), Seq(
        "l_quantity" -> round(col("l_quantity")).cast("long"),
        "l_extendedprice" -> round(col("l_extendedprice")).cast("long"),
        "l_discount" -> round(col("l_discount") * 10000).cast("long"),
        "l_tax" -> round(col("l_tax") * 10000).cast("long")))),
    // higher-moment census: per-type skewness and excess kurtosis from ONE
    // scan of exact integer power sums. Each power is computed AND summed
    // in DECIMAL(38,0) (DuckDB's HUGEINT twin) — the per-row products are
    // decimal from the first multiply, so neither a single u⁴ term nor any
    // row count can wrap int64 (a long-domain u*u*u*u would silently wrap
    // past |u| ≈ 55,108 on Spark while DuckDB raises — divergent failure
    // modes). s1 stays int64 in the output (|u|·1e12 rows ≈ 5e16, safe);
    // the raw power sums are NOT emitted. Fixed double formulas over the
    // exact sums — the q_corr determinism recipe
    "q_moments" -> ((s, dir) => {
      val u = round(col("value")).cast("long")
      val du = u.cast("decimal(38,0)")
      val g = Tables.readEvents(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(u).as("s1"), sum(du * du).as("s2"),
          sum(du * du * du).as("s3"), sum(du * du * du * du).as("s4"))
      def d(c: String) = col(c).cast("double")
      val m = d("s1") / d("n")
      val e2 = d("s2") / d("n")
      val e3 = d("s3") / d("n")
      val e4 = d("s4") / d("n")
      val v = e2 - m * m
      val m3 = e3 - lit(3.0) * m * e2 + lit(2.0) * m * m * m
      val m4 = e4 - lit(4.0) * m * e3 + lit(6.0) * m * m * e2 -
        lit(3.0) * m * m * m * m
      g.select(col("event_type"), col("n"), col("s1"),
        when(v > 0, round(m3 / sqrt(v * v * v) * 1e6).cast("long"))
          .as("skew_e6"),
        when(v > 0, round((m4 / (v * v) - 3.0) * 1e6).cast("long"))
          .as("kurt_e6"))
    }),
    // per-column entropy census: exact bitlen surprise totals — the
    // key-vs-enum-vs-noise signal next to the count/null/distinct profile
    "q_entropy" -> ((s, dir) =>
      operators.Profiling.entropyCensus(Tables.read(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey"))),

    "q_expectations" -> ((s, dir) =>
      Profiling.expectations(Tables.read(s, dir, "lineitem"), Seq(
        "orderkey_not_null" -> col("l_orderkey").isNull,
        "quantity_in_1_50" ->
          !(col("l_quantity") >= 1.0 && col("l_quantity") <= 50.0),
        "price_positive" -> (col("l_extendedprice") <= 0.0),
        "returnflag_in_set" -> !col("l_returnflag").isin("A", "N", "R"),
        "discount_le_5pct" -> (col("l_discount") > 0.05)),
        uniqueKey = Seq("l_orderkey", "l_linenumber"))),

    // referential-integrity census across the whole star — the dbt
    // `relationships` test as counts, one left-anti-shaped pass per edge:
    // child rows, null FKs, orphan rows, distinct orphan keys per
    // child(fk) -> parent(pk) relationship
    "q_fk_integrity" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      val o = Tables.read(s, dir, "orders")
      val c = Tables.read(s, dir, "customer")
      val n = Tables.read(s, dir, "nation")
      val p = Tables.read(s, dir, "part")
      val su = Tables.read(s, dir, "supplier")
      Profiling.fkIntegrity(Seq(
        ("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        ("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        ("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
        ("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        ("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        ("supplier.s_nationkey->nation", su, "s_nationkey", n, "n_nationkey")))
    }),

    // balanced output sharding: round-robin over token-desc rank — shard
    // token masses stay within one max-doc of each other (balance bound
    // pinned in TextEventsSpec)
    "doc_shard" -> ((s, dir) =>
      TextAnalysis.shardBalanced(Tables.read(s, dir, "documents"))),
    // length-bucketed batching: power-of-two length buckets, batchSize-doc
    // fills in (n_tok, doc_id) order, exact per-batch padding-waste ppm —
    // the dynamic-batching census that prices pad overhead before training
    "doc_batch" -> ((s, dir) =>
      TextAnalysis.lengthBucketBatches(Tables.read(s, dir, "documents"))),

    // ---- Davies-Bouldin + Calinski-Harabasz validity indices: the two
    // standard choose-K metrics next to the reference's elbow/silhouette ----
    "km_validity" -> ((s, dir) =>
      Quality.validityIndices(Tables.yhOrders(s, dir), c4(s, dir))),

    // ---- train→deploy roundtrip: the fixed centroid set is SAVED to
    // parquet (the WCR shape), LOADED back, and served — hash-matching
    // km_assign's oracle proves persistence is bit-exact ----
    "km_model_roundtrip" -> ((s, dir) => {
      val path = taggedTmpPath("graft_model_rt", dirTag(dir))
      KMeans.saveModel(s, KMeans.FitResult(c4(s, dir), Nil, 0L, 0.0), path)
      val loaded = KMeans.loadModel(s, path)
      KMeans.assign(Tables.yhOrders(s, dir), loaded).select(col("i"), col("j"))
    }),

    // ---- assignment via the native codegen'd SqDist Expression: same
    // oracle as km_assign — proves the custom kernel is bit-compatible ----
    "km_assign_native" -> ((s, dir) => {
      val cs = c4(s, dir)
      Tables.yhOrders(s, dir)
        .withColumn("j", plans.native.nearestIdNative(col("Y"), cs.map(_.j), cs.map(_.c)))
        .select(col("i"), col("j"))
    }),

    // ---- multimodal plumbing (all three kinds decode their REAL
    // containers — WAV/BMP/AVI, values pinned in MultimodalSpec). The media
    // fixtures are deterministic in (doc_id, n_chars), so every feature has
    // a CLOSED-FORM DuckDB mirror that re-derives it from the generator
    // arithmetic (OracleSql mm*) — the hash compare pins the whole
    // encode→parse→decode→feature loop without the oracle touching a byte
    // buffer ----
    "mm_features" -> ((s, dir) => {
      val media = Multimodal.mediaTable(Tables.read(s, dir, "documents"))
      Multimodal.featureStats(Multimodal.decodeFeatures(media))
        .select(col("kind"), col("n"), col("total_bytes"))
    }),
    // resize + frame-sample: box-filtered luma thumbnails per image, k
    // uniformly-spaced frame lumas per video — the fixed-budget
    // preprocessing both vision and video training pipelines run before
    // the encoder. Oracle re-derives the output sizes from the generator
    // geometry (the grids themselves are float arrays — their VALUES are
    // pinned cell by cell in MultimodalSpec)
    "mm_thumbs" -> ((s, dir) => {
      val media = Multimodal.mediaTable(Tables.read(s, dir, "documents"))
      val th = Multimodal.thumbnails(media).toDF()
        .select(col("media_id"), lit("image").as("kind"),
          size(col("thumb")).cast("long").as("n_vals"))
      val fr = Multimodal.frameSamples(media).toDF()
        .select(col("media_id"), lit("video").as("kind"),
          size(col("lumas")).cast("long").as("n_vals"))
      th.unionByName(fr)
    }),
    // frame-level video near-dup (re-encoded clips, shared intros): every
    // frame aHashed with the image hasher's exact loop, composite
    // (video, frame) keys through the same pigeonhole blocking, rolled up
    // to matched-frame counts per video pair. Planted copies (id-shifted
    // re-encodes) guarantee real positives; hash-checked against the
    // closed-form frame-hash mirror (OracleSql.mmFrameDedup)
    "mm_frame_dedup" -> ((s, dir) => {
      val vids = Multimodal.mediaTable(Tables.read(s, dir, "documents"))
        .filter(col("kind") === "video")
      val copies = vids.filter(col("media_id") % 5 === 1)
        .withColumn("media_id", col("media_id") + 1000000L)
      // persisted: both self-join sides of the pair stage read the frame
      // hashes — without the cache the AVI frame decode runs per consumer
      val fh = TransientCaches.register(
        Multimodal.frameAHashes(vids.unionByName(copies)).toDF()
          .select((col("media_id") * 100L + col("frame_ix")).as("media_id"),
            col("ahash"))
          .persist())
      // production default is the df-capped join (r17 verdict task 3): at
      // fixture scale frame-hash buckets max out at 4 rows so the cap is
      // inert (results bit-identical to uncapped — bucket census in
      // defaultMaxBucketRows' scaladoc), but the capped plumbing is what
      // the oracle mirror verifies, and at web scale it bounds the
      // constant-frame |bucket|² term
      val pairs = Multimodal.aHashPairs(fh, maxHamming = 0,
        maxBucketRows = Multimodal.defaultMaxBucketRows)
      pairs.select(expr("a_id div 100").as("a_vid"),
          expr("b_id div 100").as("b_vid"))
        .groupBy("a_vid", "b_vid").agg(count(lit(1)).as("n_frames"))
    }),

    // shot-boundary keyframe census per video: per-frame aHash deltas,
    // frame 0 + every cut at or above the default 33-bit threshold keys;
    // golden-pinned in MultimodalSpec AND hash-checked against the
    // closed-form frame-hash mirror (OracleSql.mmKeyframes)
    "mm_keyframes" -> ((s, dir) =>
      Multimodal.keyframes(
        Multimodal.mediaTable(Tables.read(s, dir, "documents")))),

    // energy-based audio activity segmentation: real RIFF/PCM parse,
    // exact-integer window energies, active-window census + longest speech
    // run per clip relative to the clip's own loudest window; hash-checked
    // against the closed-form PCM mirror (OracleSql.mmAudioSeg)
    "mm_audio_seg" -> ((s, dir) =>
      Multimodal.audioActivity(
        Multimodal.mediaTable(Tables.read(s, dir, "documents"))).toDF()),

    // energy-delta audio fingerprint census (audio near-dup detection):
    // real RIFF/PCM parse, exact-integer window energies, delta bits packed
    // into one long, collision census — a groupBy shape BY DESIGN (one
    // shuffled row per clip; never the |bucket|-squared pair join a
    // dominant tone would blow up at web scale); hash-checked against the
    // closed-form PCM mirror
    "mm_audio_fingerprint" -> ((s, dir) =>
      Multimodal.audioFingerprint(
        Multimodal.mediaTable(Tables.read(s, dir, "documents")))),

    "mm_phash" -> ((s, dir) => {
      val imgs = Multimodal.mediaTable(Tables.read(s, dir, "documents"))
        .filter(col("kind") === "image")
      val copies = imgs.filter(col("media_id") % 5 === 0)
        .withColumn("media_id", col("media_id") + 1000000L)
      // persisted: the hash relation (one small row per image) feeds both
      // self-join sides and the join back — without the cache the BINARY
      // DECODE mapPartitions runs three times over every payload
      val hashes = TransientCaches.register(
        Multimodal.aHashes(imgs.unionByName(copies)).toDF().persist())
      // pairs arrive once as (a_id < b_id); count BOTH endpoints so the
      // larger-id twin of a duplicate pair reports its partner too.
      // PRODUCTION DEFAULT IS THE DF-CAPPED JOIN (r17 verdict task 3 —
      // the live-vs-indexed pattern applied to the mm family): hot aHash
      // chunk buckets — the web-scale near-black/constant-motif class,
      // measured as the 100×-sweep's heaviest mm term (334.6 s uncapped
      // vs 8.7 s capped at 100×) — are dropped from candidate generation
      // at the bucket cap. The fixture's four 32-38-row hot buckets
      // engage it (recall trade oracle-verified 88→76 partners at
      // sf0.01); the exact uncapped semantics reference is published as
      // `mm_phash_exact` below.
      val pairs = Multimodal.aHashPairs(hashes,
        maxBucketRows = Multimodal.defaultMaxBucketRows)
      val dups = pairs.select(col("a_id").as("id"))
        .unionAll(pairs.select(col("b_id").as("id")))
        .groupBy("id").agg(count(lit(1)).as("n_dups"))
      hashes.join(dups, hashes("media_id") === dups("id"), "left")
        .select(col("media_id"), col("ahash"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"))
    }),
    // the EXACT uncapped twin (was the production form until r18): every
    // hamming-≤3 pair, candidates through the complete 4-chunk pigeonhole
    // — hash-matched against the closed-form ALL-pairs mirror, so the
    // match also certifies the blocking loses no qualifying pair. The
    // semantics/oracle reference for `mm_phash`'s capped production
    // default; unbounded |bucket|² term, so NOT the web-scale path.
    "mm_phash_exact" -> ((s, dir) => {
      val imgs = Multimodal.mediaTable(Tables.read(s, dir, "documents"))
        .filter(col("kind") === "image")
      val copies = imgs.filter(col("media_id") % 5 === 0)
        .withColumn("media_id", col("media_id") + 1000000L)
      val hashes = TransientCaches.register(
        Multimodal.aHashes(imgs.unionByName(copies)).toDF().persist())
      val pairs = Multimodal.aHashPairs(hashes)
      val dups = pairs.select(col("a_id").as("id"))
        .unionAll(pairs.select(col("b_id").as("id")))
        .groupBy("id").agg(count(lit(1)).as("n_dups"))
      hashes.join(dups, hashes("media_id") === dups("id"), "left")
        .select(col("media_id"), col("ahash"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"))
    }),

    // the multimodal INGEST seam through Spark's built-in binaryFile
    // source (r18): payloads land as real files (ensureMediaFiles —
    // distributed write, amortized via prewarm), are listed and scanned
    // back by format("binaryFile"), and the byte census from the SCAN's
    // length column must hash-match the same closed-form container
    // arithmetic as mm_features — pinning the encode → file write → list
    // → scan loop end to end. Column pruning keeps `content` out of the
    // plan, so lengths come from file status without reading a byte.
    "mm_binaryfile_ingest" -> ((s, dir) => {
      val files = ensureMediaFiles(s, dir)
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(files)
        .select(regexp_extract(col("path"), "media_(\\d+)\\.bin$", 1)
          .cast("long").as("media_id"), col("length"))
        .select(when(col("media_id") % 3 === 0, "image")
          .when(col("media_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"), col("length"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), sum("length").as("total_bytes"))
    }),

    // ---- events (beyond-reference) ----
    "events_sessionize" -> ((s, dir) =>
      Events.sessionize(Tables.readEvents(s, dir))),
    // session-shape distribution: exact p25/p50/p90 of duration and size
    // through the two-pass distributed-selection quantile engine — the
    // metric column doubles as the group key, so one call prices both
    "events_session_stats" -> ((s, dir) => {
      val sess = Events.sessionize(Tables.readEvents(s, dir))
      val unpivot = sess.select(lit("dur_us").as("metric"),
          col("dur_us").as("value"))
        .unionByName(sess.select(lit("n_events").as("metric"),
          col("n_events").as("value")))
      Quantiles.exactGroupedQuantiles(unpivot, "metric", "value",
        Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9)))
    }),
    "events_window" -> ((s, dir) =>
      Events.windowAgg(Tables.readEvents(s, dir))),
    // hopping windows: 1h width every 30m — each event in 2 buckets
    "events_sliding" -> ((s, dir) =>
      Events.slidingWindowAgg(Tables.readEvents(s, dir))),
    // per-(user, hour) OHLC downsampling: open/close by deterministic
    // struct min/max, exact extremes — constant state per bucket
    "events_ohlc" -> ((s, dir) =>
      Events.ohlc(Tables.readEvents(s, dir))),
    // sparse->dense hourly regularization: per-user hour spine + ignoreNulls
    // carry-forward; gap rows flagged for downstream masking
    "events_gap_fill" -> ((s, dir) =>
      Events.gapFill(Tables.readEvents(s, dir))),
    // per-user sequence features (lag/delta/gap/rolling) in event-time
    // order — the feature block sequence models train on; one shuffle
    // feeds every window
    "events_features" -> ((s, dir) =>
      Events.lagFeatures(Tables.readEvents(s, dir))),
    // the built-in session_window one-liner next to the explicit
    // lag/cumsum sessionize (boundary rule: diff >= gap splits)
    "events_session_window" -> ((s, dir) =>
      Events.sessionWindowAgg(Tables.readEvents(s, dir))),
    // multi-touch attribution: each purchase splits exactly 1e6 ppm of
    // credit over the user's in-window clicks (integer linear model, last
    // touch absorbs the floor remainder so credit sums exactly)
    "events_attribution" -> ((s, dir) =>
      Events.attribution(Tables.readEvents(s, dir))),
    // U-shaped 40/20/40 position model: first/last anchored, middle split,
    // exact remainder discipline (credit sums to exactly 1e6 per purchase)
    "events_attribution_position" -> ((s, dir) =>
      Events.attributionPosition(Tables.readEvents(s, dir))),
    "events_json" -> ((s, dir) =>
      Events.jsonStats(Tables.readEvents(s, dir))),
    // telemetry QA: per-user rolling z-score outliers (fixed-point rolling
    // sums over an explicit ROWS frame; e6-integer threshold — hash-exact)
    "events_anomaly" -> ((s, dir) =>
      Events.anomalies(Tables.readEvents(s, dir))),
    // robust twin: deviation from the MEDIAN in MAD units, all-integer
    // fixed-point compare (med2 half-cents, mad4 quarter-cents)
    "events_anomaly_mad" -> ((s, dir) =>
      Events.anomaliesMad(Tables.readEvents(s, dir))),
    // the DAU/WAU census: exact distinct users per hour bucket (single
    // countDistinct -> two-level aggregate, no Expand)
    // rolling 7-day distinct users per day (WAU) + DAU/WAU stickiness:
    // the rolling-DISTINCT linearization — explode the reduced (user, day)
    // relation into its 7 window ends, never users × calendar
    "events_rolling_wau" -> ((s, dir) =>
      Events.rollingActiveUsers(Tables.readEvents(s, dir))),
    "events_active_users" -> ((s, dir) =>
      Events.activeUsers(Tables.readEvents(s, dir))),
    // DAU/WAU/MAU + stickiness ppm: one (user, day) reduction, bounded
    // explode fan-out for the trailing windows — never a range join
    "events_stickiness" -> ((s, dir) =>
      Events.stickiness(Tables.readEvents(s, dir))),
    // new-vs-returning daily census: each user's first-ever day from one
    // grouped min, joined back onto the distinct (user, day) relation
    "events_new_users" -> ((s, dir) => {
      val day = expr("unix_micros(ts) div 86400000000")
      val ud = Tables.readEvents(s, dir)
        .select(col("user_id"), day.as("day")).distinct()
      val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
      ud.join(first, "user_id")
        .groupBy("day")
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"),
          sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
            .as("n_returning"))
        .withColumn("new_ppm",
          expr("n_new * 1000000 div (n_new + n_returning)"))
    }),
    // as-of join (click → latest prior purchase per user) via the union +
    // carry-forward window — oracled against DuckDB's native ASOF JOIN
    "events_asof" -> ((s, dir) =>
      Events.asofJoin(Tables.readEvents(s, dir))),
    // staleness-bounded as-of (merge_asof tolerance semantics): matches
    // older than 60 min are nulled, fresh matches carry their age
    "events_asof_tol" -> ((s, dir) =>
      Events.asofJoinTolerance(Tables.readEvents(s, dir))),
    // the FORWARD as-of: click -> next purchase at-or-after, the
    // conversion-delay primitive; same union+window shape, backward carry
    "events_asof_fwd" -> ((s, dir) =>
      Events.asofJoinForward(Tables.readEvents(s, dir))),
    // capacity census: peak concurrent sessions per day via the two-level
    // sweep line (per-day prefix + day-level midnight base) — never one
    // global window
    "events_concurrency" -> ((s, dir) =>
      Events.concurrency(Tables.readEvents(s, dir))),
    // time-weighted average value per (user, day): integer-µs hold weights
    // clamped to day boundaries, one integer division per bucket
    "events_twap" -> ((s, dir) =>
      Events.twap(Tables.readEvents(s, dir))),
    // distribution-free A/B: Mann-Whitney U between click and view spend,
    // doubled-rank integers over the grouped cent domain + fixed double z
    "events_mwu" -> ((s, dir) =>
      Events.mannWhitney(Tables.readEvents(s, dir))),
    // churn census: Kaplan-Meier at-risk/churn/censored table with the
    // observation-window censoring rule, hazard in exact ppm
    "events_survival" -> ((s, dir) =>
      Events.survival(Tables.readEvents(s, dir))),
    // LTV-slope feature: per-user OLS trend of daily spend in e6 fixed
    // point (exact integer sufficient stats, q_corr double recipe)
    "events_trend" -> ((s, dir) =>
      Events.trend(Tables.readEvents(s, dir))),
    // lag-1..7 autocorrelation of the daily revenue series: one scan to
    // days, shifted self-joins over the tiny series, exact integer
    // sufficient stats + the fixed-double Pearson formula
    "events_autocorr" -> ((s, dir) =>
      Events.autocorr(Tables.readEvents(s, dir))),
    // bot/abuse census: per-user event rate + sub-second gap share from
    // one lag window — the machine-traffic filter before behavioral
    // features are trusted
    "events_bot_detect" -> ((s, dir) =>
      Events.botDetect(Tables.readEvents(s, dir))),
    // the same as-of semantics as a NATIVE whole-operator plan: custom
    // logical node + strategy + merge-scan exec (AsofJoinExec), O(1) state
    // per co-partition instead of the union+window carry-forward
    "events_asof_native" -> ((s, dir) =>
      Events.asofJoinNative(Tables.readEvents(s, dir),
        broadcast = Some(false))),
    // the broadcast physical form of the same operator: the right side
    // ships whole, the 100TB-side left stream is NEVER shuffled or sorted
    "events_asof_bcast" -> ((s, dir) =>
      Events.asofJoinNative(Tables.readEvents(s, dir),
        broadcast = Some(true))),
    // staged conversion funnel (windowFunnel analog): view → click → purchase
    // within 24h per stage, chained min-joins — no windows, no per-user sort
    "events_funnel" -> ((s, dir) =>
      Events.funnel(Tables.readEvents(s, dir))),
    // stage-to-stage conversion latency: exact-integer µs summaries + the
    // fixed-point median per consecutive funnel pair
    "events_funnel_latency" -> ((s, dir) =>
      Events.funnelLatency(Tables.readEvents(s, dir))),
    // window-sensitivity sweep: the same funnel at 1h/6h/24h attribution
    // windows side by side (monotone by construction)
    "events_funnel_sweep" -> ((s, dir) =>
      Events.funnelSweep(Tables.readEvents(s, dir))),
    // cohort retention: epoch-week signup cohorts × activity-week offsets
    "events_retention" -> ((s, dir) =>
      Events.retention(Tables.readEvents(s, dir))),
    // cohort LTV curve: cumulative purchase cents per cohort user by week
    // offset over a dense cohort × offset spine — retention's revenue
    // companion, exact integers end to end
    "events_cohort_ltv" -> ((s, dir) =>
      Events.cohortLtv(Tables.readEvents(s, dir))),
    // top within-session event-type paths (3-grams over the session's
    // total-ordered sequence, counted corpus-wide)
    "events_paths" -> ((s, dir) =>
      Events.topPaths(Tables.readEvents(s, dir))),
    // first-order Markov matrix: full next-step distribution (count + ppm
    // probability) over within-session consecutive event pairs
    "events_transitions" -> ((s, dir) =>
      Events.transitions(Tables.readEvents(s, dir))),

    // ---- Markov (removal-effect) attribution: journeys truncated at the
    // first conversion, bounded integer value-iteration per channel-removed
    // variant — the data-driven credit model next to the linear/U-shaped
    // heuristics ----
    "events_attribution_markov" -> ((s, dir) =>
      Events.attributionMarkov(Tables.readEvents(s, dir))),

    // Poisson-bootstrap CI for the mean purchase value: all 32 replicates
    // accumulate in ONE scan (per-row Poisson(1) replicate weights from
    // the shared transparent LCG — no per-replicate shuffle), 32 replicate
    // means reach the driver, order-statistic 5/95 band
    "events_bootstrap" -> ((s, dir) =>
      Events.bootstrapCi(Tables.readEvents(s, dir))),
    // exact Shapley channel attribution (the trio's third member): one
    // distributed per-user bitmask+conversion census (<=2^C rows reach
    // the driver), exact integer coalition combination there; channels
    // are explicit config so the bit layout can never drift with data
    "events_attribution_shapley" -> ((s, dir) =>
      Events.attributionShapley(Tables.readEvents(s, dir),
        channels = Seq("click", "error", "signup", "view"))),

    // ---- the composed training-data job (quality gate → near-dup
    // clustering over survivors → keep one per cluster): every stage is an
    // operator above; this query is the proof they compose into the actual
    // 100 TB corpus-cleaning pipeline ----
    // stricter quality gate than text_quality's default so the stage is
    // consequential on this corpus (token counts span 10..99); the
    // quality → LSH → components stage is shared with pipeline_corpus
    // via the cleanComponents memo
    "pipeline_clean" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      cleanComponents(s, dir)
        .filter(col("doc_id") === col("rep_id"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"))
    }),

    // ---- domain-targeted corpus build: quality gate → DSIR score over
    // the survivors → top-half per source by importance — the composition
    // that turns doc_dsir's scalar into an actual selection policy (the
    // per-source quota keeps source balance while the LM ratio ranks
    // within source) ----
    "pipeline_select" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      // persisted ID list: clean's two consumers (DSIR scoring + the final
      // select) each re-scan docs but must not re-run the quality gate
      val kept = TransientCaches.register(
        TextAnalysis.qualityScore(docs, minTokens = 25)
          .filter(col("keep") === 1).select("doc_id").persist())
      val clean = docs.join(kept, "doc_id")
      val scored = TextAnalysis.dsirScore(clean)
      val w = Window.partitionBy("source")
        .orderBy(desc("avg_bits_e6"), asc("doc_id"))
      val cw = Window.partitionBy("source")
      clean.select(col("doc_id"), col("source"))
        .join(scored, "doc_id")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(cw))
        .filter(col("rnk") * 2 <= col("cnt") + 1) // top ceil(cnt/2)/source
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("avg_bits_e6"), col("rnk"))
    }),

    // ---- the full corpus build: quality gate → near-dup keep-one →
    // sequence packing — the kept representatives land in fixed
    // token-budget training batches, proving the packing stage composes
    // with the clean pipeline ----
    "pipeline_corpus" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val reps = cleanComponents(s, dir)
        .filter(col("doc_id") === col("rep_id")).select("doc_id")
      TextAnalysis.packBatches(docs.join(reps, "doc_id"))
    }),

    // ---- the COMPLETE pretraining build: quality gate → near-dup keep-one
    // → per-source token-budget mix → sequence packing — every stage an
    // operator above, composed in the order a production corpus job runs ----
    "pipeline_pretrain" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val reps = cleanComponents(s, dir)
        .filter(col("doc_id") === col("rep_id")).select("doc_id")
      val kept = docs.join(reps, "doc_id")
      // r19: tokenize the kept docs ONCE into a narrow persisted census —
      // the budget distinct, the mix, and the packing all read counts
      // (this query paid two full tokenize passes; mixed ⊆ kept, so
      // packing kept⋈mixed ≡ the old docs⋈mixed row-for-row)
      val keptN = TransientCaches.register(
        kept.select(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tok")).persist())
      val budgets = keptN.select(col("source")).distinct()
        .withColumn("budget",
          sourceBudget)
      val mixed = TextAnalysis.mixCorpusFromCounts(
        keptN.select("doc_id", "source", "n_tok"), budgets).select("doc_id")
      TextAnalysis.packBatchesFromCounts(
        keptN.select("doc_id", "lang", "n_tok").join(mixed, "doc_id"))
    }),

    // THE complete curation chain, decontamination included: benchmark
    // split → quality gate → MinHash keep-one → 3-gram decontamination of
    // survivors against the held-out set → source-budget mix → packing.
    // Every stage is the exact operator its standalone query runs; the
    // oracle chains the same CTE fragments.
    "pipeline_full" -> ((s, dir) => {
      val all = Tables.read(s, dir, "documents")
      val docs = all.filter(col("doc_id") % 97 =!= 0)
      val bench = all.filter(col("doc_id") % 97 === 0)
      // stage-boundary persists: each stage's OUTPUT is a doc_id list
      // (sub-corpus by construction) consumed by several downstream stages
      // — without them, every consumer re-runs the whole upstream chain
      // (quality scoring, LSH, decontamination) while the corpus itself
      // correctly stays as pruned parquet re-scans.
      // r19: `kept` additionally CARRIES the quality pass's n_tokens —
      // the same size(tokens(text)) every downstream stage needs — so the
      // mix and the packing read counts instead of re-tokenizing the
      // corpus (this query paid THREE full tokenize passes: quality gate,
      // mixCorpus, packBatches; now exactly one).
      val kept = TransientCaches.register(
        TextAnalysis.qualityScore(docs, minTokens = 25)
          .filter(col("keep") === 1)
          .select(col("doc_id"), col("n_tokens")).persist())
      val clean = docs.join(kept.select("doc_id"), "doc_id")
      // shared with pipeline_provenance (r18): the identical components
      // relation was built twice per suite run — see pipeComponents
      val comps = pipeComponents(s, dir)
      val reps = clean.join(
        comps.filter(col("doc_id") === col("rep_id")).select("doc_id"), "doc_id")
      val ok = TransientCaches.register(Dedup.decontaminate(reps, bench)
        .filter(col("contaminated") === 0).select("doc_id").persist())
      // NARROW survivor relation (r19): (doc_id, lang, source, n_tok) —
      // every post-decontamination consumer (budget census, mix, packing)
      // re-derived docs⋈kept⋈reps⋈ok from the parquet scans; one persisted
      // 4-column relation now feeds all three, and the heavy text column
      // never travels past the decontamination stage
      val svn = TransientCaches.register(
        docs.select(col("doc_id"), col("lang"), col("source"))
          .join(kept, "doc_id")
          .join(comps.filter(col("doc_id") === col("rep_id"))
            .select("doc_id"), "doc_id")
          .join(ok, "doc_id")
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_tokens").as("n_tok"))
          .persist())
      val budgets = svn.select(col("source")).distinct()
        .withColumn("budget",
          sourceBudget)
      val mixed = TextAnalysis.mixCorpusFromCounts(
        svn.select("doc_id", "source", "n_tok"), budgets).select("doc_id")
      TextAnalysis.packBatchesFromCounts(
        svn.select("doc_id", "lang", "n_tok").join(mixed, "doc_id"))
    }),

    // ---- per-document pipeline PROVENANCE: the audit table release
    // reviews ask for — for EVERY corpus doc, which pipeline_full stage
    // kept or dropped it (quality gate, duplicate cluster + representative,
    // contamination, budget mix) and whether it survived end to end. Stage
    // relations are the exact pipeline_full fragments; later-stage columns
    // are NULL for docs an earlier stage already dropped (a stage never
    // judged them), so the table reads as the true attrition lattice. ----
    "pipeline_provenance" -> ((s, dir) => {
      val all = Tables.read(s, dir, "documents")
      val docs = all.filter(col("doc_id") % 97 =!= 0)
      val bench = all.filter(col("doc_id") % 97 === 0)
      // r19: qual is persisted NARROW with the quality pass's n_tokens —
      // it feeds the kept gate, the final audit join (which previously
      // re-ran the whole qualityScore tokenize+regex pass), and the token
      // counts the mix stage needs (no mixCorpus re-tokenize)
      val qual = TransientCaches.register(
        TextAnalysis.qualityScore(docs, minTokens = 25)
          .select(col("doc_id"), col("keep").as("quality_pass"),
            col("n_tokens")).persist())
      val kept = qual.filter(col("quality_pass") === 1).select("doc_id")
      val clean = docs.join(kept, "doc_id")
      // shared components memo (r18) — see pipeComponents; already a local
      // relation when memoized, so no persist needed around it
      val comps = pipeComponents(s, dir)
      val reps = clean.join(
        comps.filter(col("doc_id") === col("rep_id")).select("doc_id"), "doc_id")
      val cont = TransientCaches.register(Dedup.decontaminate(reps, bench)
        .select(col("doc_id"), col("contaminated")).persist())
      // narrow survivors with counts (r19) — the pipeline_full svn shape
      val svn = TransientCaches.register(
        docs.select(col("doc_id"), col("source"))
          .join(qual.filter(col("quality_pass") === 1)
            .select(col("doc_id"), col("n_tokens")), "doc_id")
          .join(comps.filter(col("doc_id") === col("rep_id"))
            .select("doc_id"), "doc_id")
          .join(cont.filter(col("contaminated") === 0).select("doc_id"),
            "doc_id")
          .select(col("doc_id"), col("source"), col("n_tokens").as("n_tok"))
          .persist())
      val budgets = svn.select(col("source")).distinct()
        .withColumn("budget", sourceBudget)
      val mixedIds = TextAnalysis.mixCorpusFromCounts(
        svn.select("doc_id", "source", "n_tok"), budgets)
        .select(col("doc_id"), lit(1L).as("mx"))
      qual.select(col("doc_id"), col("quality_pass"))
        .join(comps, Seq("doc_id"), "left")
        .join(cont, Seq("doc_id"), "left")
        .join(mixedIds, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality_pass"), col("rep_id"),
          when(col("rep_id").isNotNull,
            (col("rep_id") === col("doc_id")).cast("long")).as("is_rep"),
          col("contaminated"),
          when(col("contaminated") === 0, coalesce(col("mx"), lit(0L)))
            .as("mixed"),
          coalesce(col("mx"), lit(0L)).as("survived"))
    }),

    // ---- window-function breadth (W-family): lag/lead neighbors, ntile
    // quartiles, running sum — one shuffle on the partition key, integer
    // cents so every windowed value is exact on both engines ----
    // ---- deterministic training-order interleave: every epoch-order
    // decision a trainer replays must be a pure function of the data, so
    // the "shuffle" is an LCG key over doc_id ranked by the terasort-shaped
    // range-partitioned global rank (no single-partition window). Source
    // runs break up because the key is uniform across sources ----
    "doc_interleave" -> ((s, dir) => {
      // key reduced mod 2^31-1 before the multiply — q_mask discipline,
      // keeps the LCG in int64 at any doc_id scale
      val shuf =
        ((col("doc_id") % 2147483647L) * 1103515245L + 12345L) % 2147483647L
      operators.Ranking.globalRank(
          Tables.read(s, dir, "documents")
            .select(col("doc_id"), col("source"), shuf.as("shuf")),
          Seq(col("shuf"), col("doc_id")), rankCol = "pos")
        .select(col("doc_id"), col("source"), col("shuf"), col("pos"))
    }),

    // ---- GLOBAL total-order rank, terasort-shaped: range-partition on the
    // order columns + local sort + zipWithIndex offsets over ONE shuffle —
    // never the single-partition window a bare row_number() OVER (ORDER BY)
    // would plan. The (price, orderkey, linenumber) order is total, so the
    // ranks are invariant to input partitioning and parallelism ----
    "q_global_sort" -> ((s, dir) =>
      operators.Ranking.globalRank(
          Tables.read(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
              col("l_extendedprice")),
          Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          col("rnk"))),

    "q_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .select(col("o_orderkey"), col("o_custkey"), col("cents"),
          lag("cents", 1).over(w).as("prev_cents"),
          lead("cents", 1).over(w).as("next_cents"),
          ntile(4).over(w).cast("long").as("quartile"),
          sum("cents").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("run_cents"))
    }),

    // ---- distinct-count rollup: exact count(DISTINCT) per group. The
    // approximate twin (HLL approx_count_distinct, the 100 TB default where
    // a 2% answer in one pass beats an exact two-phase distinct) is pinned
    // within its rsd bound against this exact query in PropertySpec ----
    // rank-family windows: percent_rank/cume_dist are int/int divides of
    // identical operands on both engines (bit-identical IEEE results);
    // first/last over explicit frames close out the W-family
    "q_window2" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .select(col("o_orderkey"), col("o_custkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first("cents").over(w).as("first_cents"),
          last("cents").over(w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)).as("last_cents"))
    }),
    // RANGE-frame window: a true 7-DAY rolling spend per customer (value
    // distance, not row count — sparse order histories weight correctly).
    // Integer day keys + integer cents keep the frame bounds and the sums
    // exact on both engines; one shuffle on o_custkey
    "q_rolling_range" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-6, 0)
      Tables.read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          // o_orderdate arrives TIMESTAMP_NTZ; session TZ is pinned UTC so
          // the cast is value-preserving (see Tables.readEvents note)
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
            .as("day"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum("cents").over(w).as("cents_7d"),
          count(lit(1)).over(w).as("n_7d"))
    }),

    "q_distinct" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      val cust = Tables.read(s, dir, "customer")
      o.join(broadcast(cust), o("o_custkey") === cust("c_custkey"))
        .groupBy("c_nationkey")
        .agg(countDistinct("o_custkey").as("n_buyers"), count(lit(1)).as("n_orders"))
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          col("n_buyers"), col("n_orders"))
    }),

    // ---- exact grouped quantiles (A-family breadth): interpolated p25/50/75
    // over INTEGER cents, so the interpolation arithmetic is error-free in
    // IEEE double on both engines (quarter fracs + integer endpoints) and the
    // hash compare can never flip. Computed by TWO-PASS DISTRIBUTED
    // SELECTION (Quantiles.exactGroupedQuantiles): bucket counts locate each
    // order statistic, a second scan touches only the target buckets — no
    // per-group value buffering, no all-values sort, at any scale ----
    "q_quantiles" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val d = Tables.read(s, dir, "lineitem")
        .select(col("l_returnflag"), cents.as("cents"))
      Quantiles.exactGroupedQuantiles(d, "l_returnflag", "cents",
          Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
        .select(col("l_returnflag"), col("cnt"),
          (col("p25") / 100.0).as("p25"), (col("p50") / 100.0).as("p50"),
          (col("p75") / 100.0).as("p75"))
    }),
    // Tukey-fence outlier census + winsorized totals per return flag: exact
    // quartiles (two-pass distributed selection), fences and clipped sums
    // in x8 fixed point — the robust clipping rule data prep runs
    "q_tukey_fences" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      Quantiles.tukeyFences(Tables.read(s, dir, "lineitem")
        .select(col("l_returnflag"), cents.as("cents")),
        "l_returnflag", "cents")
    }),

    // ---- the TPC-H Q5-shaped STAR join: revenue per (region, nation)
    // where customer and supplier share the nation — the one query that
    // exercises every dimension table. Fact-fact (lineitem ⋈ orders)
    // shuffles on the shared key; every dimension side is explicitly
    // broadcast, so the star resolves with ONE shuffle total ----
    "q_star_join" -> ((s, dir) => {
      val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 100).cast("long")
      Tables.read(s, dir, "lineitem")
        .join(Tables.read(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.read(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.read(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.read(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.read(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"), sum(rev).as("revenue_cents"))
    }),

    // ---- Lorenz / revenue-concentration deciles (the "top 20% of
    // customers drive X% of revenue" table, the Gini input): customers cut
    // into ten equal-count spend deciles (total (spend, custkey) order),
    // cumulative share in exact ppm. The ntile runs over the CUSTOMER
    // summary; the rollup and its cumulative window are 10 rows ----
    "q_lorenz" -> ((s, dir) => {
      val cust = Tables.read(s, dir, "orders")
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_custkey").agg(sum("cents").as("spend"))
      // decile cut via the range-partitioned globalNtile (customers are
      // unbounded at scale); only the 10-row decile rollup's cumulative
      // window is single-partition — k-sized by construction
      val dec = operators.Ranking.globalNtile(cust,
          Seq(col("spend").desc, col("o_custkey")), 10, "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum("spend").as("spend_cents"))
      val wd = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec
        .withColumn("cum_cents", sum("spend_cents").over(wd))
        .withColumn("total", sum("spend_cents").over(Window.partitionBy(lit(1))))
        .select(col("decile"), col("n_cust"), col("spend_cents"),
          col("cum_cents"), expr("cum_cents * 1000000 div total").as("cum_ppm"))
    }),

    // ---- RFM segmentation (recency / frequency / monetary quintiles per
    // customer — the classic activation/churn cut): one groupBy(custkey)
    // shuffle builds the summary; the three quintile cuts are
    // range-partitioned globalNtile(5) passes over the CUSTOMER summary
    // (orders-many → customers-few, but customers are still unbounded at
    // 100 TB — never a single-partition window), each on a total
    // (metric, custkey) order so scores are deterministic. 5 = best. The
    // summary is localCheckpoint'd so the three rank passes and the count
    // share ONE materialization of the aggregate ----
    "q_rfm" -> ((s, dir) => {
      // o_orderdate arrives TIMESTAMP_NTZ (see Tables.readEvents note);
      // the session TZ is pinned UTC so the cast is instant-preserving
      val day = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
      val cust = Tables.read(s, dir, "orders")
        .select(col("o_custkey"), day.as("day"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_custkey")
        .agg(max("day").as("last_day"), count(lit(1)).as("n_orders"),
          sum("cents").as("spend_cents"))
        .localCheckpoint()
      def score(df: DataFrame, c: String, as: String) =
        operators.Ranking.globalNtile(df, Seq(col(c), col("o_custkey")), 5, as)
      val scored = score(score(score(cust,
        "last_day", "r"), "n_orders", "f"), "spend_cents", "m")
      scored.withColumn("rfm", col("r") * 100 + col("f") * 10 + col("m"))
    }),

    // ---- incremental view maintenance: the persisted BASE aggregate
    // (ensureIvmBase) + the arriving delta's partial aggregate fold
    // together as a k-row merge — sum of counts, sum of sums — with ZERO
    // base re-scan. The oracle is the FULL recompute over all of lineitem,
    // so the query passing IS the IVM invariant (incremental ≡ full) ----
    "q_ivm" -> ((s, dir) => {
      val base = s.read.parquet(ensureIvmBase(s, dir))
      val delta = Tables.read(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
      base.unionByName(delta)
        .groupBy("l_returnflag")
        .agg(sum("cnt").as("cnt"), sum("sum_cents").as("sum_cents"))
    }),

    // ---- fixed-bin histogram census (the value-distribution profile a
    // pipeline draws before choosing partition bounds): bin = integer
    // division of exact cents — one map-side-combinable groupBy ----
    "q_histogram" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      Tables.read(s, dir, "lineitem")
        .select(cents.as("cents"))
        .select(expr("cents div 500000").as("bin"), col("cents"))
        .groupBy("bin")
        .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
    }),

    // ---- skew-salted join (the hot-key lever at 100 TB): every lineitem
    // row hits one of THREE returnflag keys — the worst-case hot-key shape.
    // Joins.saltedEquiJoin spreads each key over 8 salts and replicates the
    // 3-row side; values are identical to the plain join by construction,
    // so this hash-matches the PLAIN-join DuckDB oracle ----
    "q_salted_join" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val big = Tables.read(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag"), cents.as("cents"))
      val small = big.groupBy("l_returnflag").agg(sum("cents").as("gcents"))
      operators.Joins.saltedEquiJoin(big, small, "l_returnflag",
          col("l_orderkey") * 7 + col("l_linenumber"), salts = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(lit(1e6) * col("cents") / col("gcents")).cast("long").as("share_e6"))
    }),

    // ---- latest-wins upsert (the incremental corpus refresh): a delta
    // batch re-delivers 10% of docs with new metadata; union + one
    // window on the key keeps the newest generation per doc — the MERGE
    // pattern expressed without a v2 catalog, one shuffle on the key ----
    "q_upsert" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val base = docs.withColumn("gen", lit(1L))
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("lang", lit("xx")).withColumn("gen", lit(2L))
      val w = Window.partitionBy("doc_id").orderBy(desc("gen"))
      base.unionByName(delta)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("gen"))
    }),

    // Morton z-value over (partkey, suppkey) — the interleaved layout key
    // that keeps per-file min/max stats tight in both dimensions (the
    // file-skipping win vs a linear sort is asserted in SinksSpec on real
    // written layouts)
    "q_zorder" -> ((s, dir) =>
      Tables.read(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        graft.sources.Sinks.zValue(
          pmod(col("l_partkey"), lit(1024L)),
          pmod(col("l_suppkey"), lit(1024L)), 10).as("z"))),

    // zone-map skipping census: the same lineitem rows laid out 64-files
    // three ways (insert order / pk-sorted / z-ordered), per-file min/max
    // stats, and for each 2-D box predicate the files+rows a stats-based
    // reader still scans — the MEASURED justification for q_zorder's layout
    // key (z keeps both dimensions' zone maps tight; a single-column sort
    // is tight in its own column only; insert order in neither)
    "q_zorder_skip" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        pmod(col("l_partkey"), lit(1024L)).as("pk"),
        pmod(col("l_suppkey"), lit(1024L)).as("sk"))
        .withColumn("z", graft.sources.Sinks.zValue(col("pk"), col("sk"), 10))
      Profiling.zonemapSkip(li,
        Seq(
          ("linear", Seq(col("l_orderkey"), col("l_linenumber"))),
          ("pk_sorted", Seq(col("pk"), col("l_orderkey"), col("l_linenumber"))),
          ("zorder", Seq(col("z"), col("l_orderkey"), col("l_linenumber")))),
        nFiles = 64,
        preds = Seq(
          ("box_pk0-63_sk0-63", 0L, 63L, 0L, 63L),
          ("stripe_pk256-271", 256L, 271L, 0L, 1023L),
          ("stripe_sk32-47", 0L, 1023L, 32L, 47L)))
    }),

    // time-travel over a generation log with tombstones: gen 1 = full load,
    // gen 2 = lang restatement for doc_id%10, gen 3 = deletes for doc_id%7;
    // the as-of-3 state drops deleted keys and keeps the latest row per
    // survivor (as-of monotonicity pinned in PropertySpec)
    // bucketed table fingerprint / diff: an order-independent per-bucket
    // content hash (commutative SUM of a per-row polynomial hash) that
    // localizes WHICH key ranges of two 100 TB snapshots differ without
    // ever joining them row-by-row — each side is one scan + one tiny
    // shuffle, and only differing buckets need a row-level drill-down
    "q_fingerprint" -> ((s, dir) => {
      val o = fpOrders(s, dir)
      // snapshot B = A with a synthetic sparse delta (status flip on
      // ~0.1% of keys) — the "did replication drift?" comparison
      val b = o.withColumn("o_orderstatus",
        when(col("o_orderkey") % 997 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      fpAgg(o, "n_a", "fp_a").join(fpAgg(b, "n_b", "fp_b"), "bucket")
        .withColumn("differs",
          (col("n_a") =!= col("n_b") || col("fp_a") =!= col("fp_b"))
            .cast("long"))
    }),
    // incremental fingerprint maintenance: the commutative row-hash SUM is
    // delta-updatable — fp(B) = fp(A) + Σh(inserted) − Σh(deleted) — so a
    // 100 TB snapshot's fingerprint refreshes from the CHANGE SET alone
    // (the q_ivm algebra applied to integrity checking). The query applies
    // the delta both ways and pins incremental ≡ full recompute per bucket
    "q_fingerprint_ivm" -> ((s, dir) => {
      val o = fpOrders(s, dir)
      val changed = o.filter(col("o_orderkey") % 997 === 0)
      val newRows = changed.withColumn("o_orderstatus", lit("X"))
      val base = fpAgg(o, "n", "fp")
      val delta = fpRowHash(newRows).withColumn("sgn", lit(1L))
        .unionAll(fpRowHash(changed).withColumn("sgn", lit(-1L)))
        .groupBy("bucket").agg(sum("sgn").as("dn"),
          sum(col("h") * col("sgn")).as("dfp"))
      val inc = base.join(delta, Seq("bucket"), "left")
        .select(col("bucket"),
          (col("n") + coalesce(col("dn"), lit(0L))).as("n_inc"),
          (col("fp") + coalesce(col("dfp"), lit(0L))).as("fp_inc"))
      val full = fpAgg(o.withColumn("o_orderstatus",
        when(col("o_orderkey") % 997 === 0, lit("X"))
          .otherwise(col("o_orderstatus"))), "n_full", "fp_full")
      inc.join(full, "bucket")
        .withColumn("consistent",
          (col("n_inc") === col("n_full") && col("fp_inc") === col("fp_full"))
            .cast("long"))
    }),
    "q_snapshot" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val g1 = docs.withColumn("gen", lit(1L)).withColumn("op", lit("U"))
      val g2 = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("lang", lit("xx"))
        .withColumn("gen", lit(2L)).withColumn("op", lit("U"))
      val g3 = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("gen", lit(3L)).withColumn("op", lit("D"))
      operators.Joins.snapshotAsOf(g1.unionByName(g2).unionByName(g3),
        Seq("doc_id"), gen = 3L)
    }),

    // per-column stats drift between the gen-1 and gen-3 snapshots of the
    // same generation log — the monitoring gate over q_snapshot's time
    // travel: two profile scans + a #columns-row join surface row-count,
    // null, and cardinality shifts (the lang restatement and the deletes
    // both show up in the deltas)
    "q_drift" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val g1 = docs.withColumn("gen", lit(1L)).withColumn("op", lit("U"))
      val g2 = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("lang", lit("xx"))
        .withColumn("gen", lit(2L)).withColumn("op", lit("U"))
      val g3 = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("gen", lit(3L)).withColumn("op", lit("D"))
      val log = g1.unionByName(g2).unionByName(g3)
      Profiling.drift(
        operators.Joins.snapshotAsOf(log, Seq("doc_id"), gen = 1L)
          .select("doc_id", "lang", "n_chars"),
        operators.Joins.snapshotAsOf(log, Seq("doc_id"), gen = 3L)
          .select("doc_id", "lang", "n_chars"))
    }),

    // SCD Type-2 over the same generation log: every upsert opens a
    // version valid until the key's next change; deletes close timelines.
    // Filtering valid_from <= G < valid_to reproduces q_snapshot (pinned)
    "q_scd2" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val g1 = docs.withColumn("gen", lit(1L)).withColumn("op", lit("U"))
      val g2 = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("lang", lit("xx"))
        .withColumn("gen", lit(2L)).withColumn("op", lit("U"))
      val g3 = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("gen", lit(3L)).withColumn("op", lit("D"))
      operators.Joins.scd2(g1.unionByName(g2).unionByName(g3), Seq("doc_id"))
    }),

    // CHANGEFEED derivation — the inverse of q_merge: diff the pre- and
    // post-merge snapshots back into the minimal CDC row set (I/U/D with
    // old/new values). The fixture applies q_merge's exact change set, so
    // the feed must recover it: updates for %10 non-%7 keys, deletes for
    // %7 keys, inserts at doc_id+1000000 for %25 keys; unchanged keys are
    // absent by construction
    "q_changefeed" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val upd = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 7 =!= 0)
        .withColumn("lang", lit("xx"))
        .withColumn("n_chars", col("n_chars") + 1L)
        .withColumn("op", lit("U"))
      val del = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("op", lit("D"))
      val ins = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), lit("new").as("lang"),
          col("source"), col("n_chars"), lit("U").as("op"))
      val after = operators.Joins.mergeInto(docs,
        upd.unionByName(del).unionByName(ins), Seq("doc_id"))
      operators.Joins.changefeed(docs, after, Seq("doc_id"))
    }),

    // MERGE INTO: one change set (updates for %10 non-%7 keys, deletes for
    // %7 keys, inserts at doc_id+1000000 for %25 keys) applied to the
    // documents target in a single full-outer pass — the canonical lake
    // write statement next to q_upsert's latest-wins and q_snapshot's log
    "q_merge" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val upd = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 7 =!= 0)
        .withColumn("lang", lit("xx"))
        .withColumn("n_chars", col("n_chars") + 1L)
        .withColumn("op", lit("U"))
      val del = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("op", lit("D"))
      val ins = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), lit("new").as("lang"),
          col("source"), col("n_chars"), lit("U").as("op"))
      operators.Joins.mergeInto(docs, upd.unionByName(del).unionByName(ins),
        Seq("doc_id"))
    }),

    // log compaction over the same generation log: fold gens <= 2 into one
    // materialized base generation, keep the gen-3 tombstone tail verbatim.
    // Emits the compacted LOG (not a snapshot) — every later snapshot over
    // it is provably identical to one over the raw log (PropertySpec pin)
    "q_log_compact" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val g1 = docs.withColumn("gen", lit(1L)).withColumn("op", lit("U"))
      val g2 = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("lang", lit("xx"))
        .withColumn("gen", lit(2L)).withColumn("op", lit("U"))
      val g3 = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("gen", lit(3L)).withColumn("op", lit("D"))
      operators.Joins.logCompact(g1.unionByName(g2).unionByName(g3),
        Seq("doc_id"), upTo = 2L)
    }),

    // ---- runtime bloom-filter semi-reduction (J-family beyond the
    // reference): a selective dim predicate (p_size = 1 keeps <1% of part)
    // joined against the fact table when the dim is TOO BIG TO BROADCAST —
    // the second-order 100 TB join lever after broadcast. Catalyst's
    // InjectRuntimeFilter builds a bloom filter from the filtered dim keys
    // and applies it to the fact side BEFORE the shuffle, so ~99% of fact
    // rows never cross the wire. Conf is scoped to a child session (shared
    // SparkContext, isolated SQLConf): broadcast disabled to model the
    // at-scale dim, the scan-size threshold dropped so the same plan shape
    // runs at test SF. PlansSpec asserts might_contain on the fact side;
    // values hash-match the plain-join oracle by construction ----
    "q_bloom_join" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables.read(s2, dir, "lineitem").select(
        col("l_partkey"), round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val p = Tables.read(s2, dir, "part")
        .filter(col("p_size") === 1).select(col("p_partkey"), col("p_brand"))
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
    }),

    // ---- AQE skew-join (the automatic complement to q_salted_join's
    // manual salting): 70% of the fact rows collapse onto one join key, and
    // AQE's OptimizeSkewedJoin splits the oversized shuffle partition into
    // advisory-sized slices at runtime — no query rewrite, no salt column.
    // Thresholds are scoped to a child session so the split fires at test
    // SF exactly as the defaults would at 100 TB; PlansSpec executes the
    // query and asserts skew=true in the final adaptive plan ----
    // column masking + k-anonymity audit: LCG pseudonym for the key,
    // prefix-mask for the name, account balance coarsened to $100
    // buckets, and each row's k = cohort size under the quasi-identifier
    // pair (segment, balance bucket) — the governance gate before data
    // leaves the boundary; one scan + one modest-cardinality window
    "q_mask" -> ((s, dir) => {
      val w = Window.partitionBy("c_mktsegment", "bal_bucket")
      Tables.read(s, dir, "customer")
        .select(
          // reduce the key mod 2^31-1 BEFORE the LCG multiply (the
          // spanCorruption discipline): bare key*1103515245 wraps int64
          // once custkey exceeds ~8.4e9 — plausible at 100 TB
          (((col("c_custkey") % 2147483647L) * 1103515245L + 12345L)
            % 2147483647L).as("pseudonym"),
          concat(substring(col("c_name"), 1, 9), lit("***")).as("name_masked"),
          col("c_mktsegment"),
          expr("cast(round(c_acctbal * 100) as bigint) div 10000")
            .as("bal_bucket"))
        .withColumn("k_anon", count(lit(1)).over(w))
    }),
    // join-key skew census: the diagnostic you run BEFORE choosing between
    // q_salted_join / q_skew_join strategies — per-key fan-out folded to a
    // count-of-counts histogram (one scan + one shuffle on the key; the
    // global-window skew ratio runs over the ~40-row histogram, never the
    // keys), skew_x1000 = rows_per_key / mean-rows-per-key in exact ints
    "q_key_skew" -> ((s, dir) => {
      val per = Tables.read(s, dir, "lineitem")
        .groupBy("l_partkey").agg(count(lit(1)).as("rows_per_key"))
      per.groupBy("rows_per_key").agg(count(lit(1)).as("n_keys"))
        .select(col("rows_per_key"), col("n_keys"),
          (col("rows_per_key") * col("n_keys")).as("n_rows"))
        .withColumn("total_keys",
          sum("n_keys").over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("total_rows",
          sum("n_rows").over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("rows_per_key"), col("n_keys"), col("n_rows"),
          expr("rows_per_key * total_keys * 1000 div total_rows")
            .as("skew_x1000"))
    }),
    // gap/island census over the order-key sequence, bucketed so every
    // window is bucket-local (hash-partitioned; no global sort) — the
    // completeness check for ingested id ranges: missing-key counts and
    // contiguous-run counts per 4k-key bucket via the key − row_number
    // grouping trick
    "q_sequence_gaps" -> ((s, dir) => {
      val k = Tables.read(s, dir, "orders")
        .select(col("o_orderkey").as("key"))
        .withColumn("bucket", expr("key div 4096"))
      val w = Window.partitionBy("bucket").orderBy("key")
      val islands = k.withColumn("grp", col("key") - row_number().over(w))
        .groupBy("bucket").agg(countDistinct("grp").as("n_islands"))
      val stats = k.groupBy("bucket").agg(count(lit(1)).as("n_keys"),
        (max("key") - min("key") + 1 - count(lit(1))).as("n_missing"))
      stats.join(islands, "bucket")
    }),
    "q_skew_join" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      // `pad` is high-entropy (md5) and consumed only AFTER the join, so the
      // fact rows that cross the shuffle stay wide — the skewed partition
      // clears the size threshold at test SF the way real fact rows would.
      // The aggregation groups on `w` (NOT the join key): its exchange makes
      // the skew split legal — a same-key agg fed directly by the join
      // pins the join's partitioning and correctly vetoes any split.
      val big = Tables.read(s2, dir, "lineitem").select(
        when(col("l_orderkey") % 10 < 7, 0L)
          .otherwise(col("l_orderkey") % 10).as("k"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        md5(col("l_orderkey").cast("string")).as("pad"))
      val dim = s2.range(10).select(col("id").as("k"), (col("id") + 100L).as("w"))
      // a skewed REDUCE partition splits along MAPPER boundaries, and the
      // test-SF parquet is a single row group = one mapper = unsplittable;
      // the repartition models the multi-split arrival every real fact
      // table has (a 100 TB scan runs thousands of map tasks)
      big.repartition(8).join(dim, "k")
        .groupBy("w")
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"),
          max(length(concat(col("pad"), col("w").cast("string"))))
            .cast("long").as("pad_len"))
    }),

    // ---- set-operation breadth (§2.7 — the reference has none): UNION /
    // INTERSECT / EXCEPT with set semantics over exact integer keys, tagged
    // and stacked into one relation ----
    "q_setops" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      val a = o.filter(col("o_totalprice") > 150000.0).select(col("o_custkey"))
      val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      a.union(b).distinct().select(lit("union").as("op"), col("o_custkey"))
        .unionAll(a.intersect(b).select(lit("intersect").as("op"), col("o_custkey")))
        .unionAll(a.except(b).select(lit("except").as("op"), col("o_custkey")))
    }),
    // BAG-semantics set ops: intersectAll/exceptAll keep multiplicities
    // (min / multiset difference) — the duplicate-aware complement to
    // q_setops' set semantics; both plan as aggregations, never a
    // nested-loop membership probe
    "q_setops_all" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      val b = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      def cnt(tag: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(tag).as("op"), col("n_rows"))
      cnt("union_all", a.unionAll(b))
        .unionByName(cnt("intersect_all", a.intersectAll(b)))
        .unionByName(cnt("except_all", a.exceptAll(b)))
        .unionByName(cnt("except_all_rev", b.exceptAll(a)))
    }),

    // ---- quoted-CSV ingest fidelity: rows carry embedded commas AND
    // double-quotes (injected prefix) through a quoteAll/""-escaped CSV
    // write + schema'd read; the oracle reads the ORIGINAL parquet, so the
    // hash match proves the quoting round-trips every row byte-exactly ----
    "q_csv_roundtrip" -> ((s, dir) => {
      val out = taggedTmpPath("graft_csv_roundtrip", dirTag(dir))
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          concat(lit("a,\"b\" "), col("text")).as("tricky"))
        .write.mode("overwrite").option("header", "true")
        .option("quoteAll", "true").option("escape", "\"").csv(out)
      // multiLine: quoted embedded newlines must not split rows (documents
      // text is newline-bearing by schema). It makes files non-splittable —
      // acceptable for an ingest-fidelity check; bulk reads stay on parquet
      s.read.option("header", "true").option("escape", "\"")
        .option("multiLine", "true")
        .schema("doc_id BIGINT, lang STRING, tricky STRING")
        .csv(out)
        .select(col("doc_id"), col("lang"),
          length(col("tricky")).cast("long").as("len"))
    }),

    // ---- the reference's TSV export contract (S7), exercised end-to-end:
    // write an all-integer relation through Sinks.writeTsv (TSVWithNames
    // shape: tab sep, header, nulls as ' '), read it back, and hash-match
    // the original oracle — integers survive the text roundtrip exactly ----
    "q_tsv_roundtrip" -> ((s, dir) => {
      val out = taggedTmpPath("graft_tsv_roundtrip", dirTag(dir))
      sources.Sinks.writeTsv(queries("q_distinct")(s, dir), out)
      s.read.option("sep", "\t").option("header", "true")
        .schema("c_nationkey BIGINT, n_buyers BIGINT, n_orders BIGINT")
        .csv(out)
    }),

    // ---- the same TSV contract through the V2 sink: the graft-tsv
    // connector stages per-task files and publishes them atomically on job
    // commit (TsvSinkSpec pins the abort path); reading the published dir
    // back hash-matches the source aggregate ----
    "q_tsv_dsv2" -> ((s, dir) => {
      val out = taggedTmpPath("graft_tsv_dsv2", dirTag(dir))
      val dest = new java.io.File(out)
      if (!new java.io.File(dest, "_SUCCESS").exists()) {
        if (dest.exists()) { // stale half-state from a pruned generation
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
          }
          rm(dest)
        }
        queries("q_distinct")(s, dir).write.format("graft-tsv")
          .option("path", out).mode("append").save()
      }
      s.read.option("sep", "\t").option("header", "true")
        .schema("c_nationkey BIGINT, n_buyers BIGINT, n_orders BIGINT")
        .csv(out)
    }),

    // ---- bucketed co-located join (S-family beyond the reference): both
    // fact tables pre-shuffled into 8 orderkey buckets at write time
    // (Sinks.writeBucketed), so the join AND the same-key aggregation plan
    // with ZERO Exchange operators — the repeated-fact-join lever at 100 TB.
    // PlansSpec asserts the exchange-free plan; the merge hints pin the
    // bucket-aligned sort-merge join against broadcast auto-selection so the
    // asserted shape is the one that runs at any size ----
    "q_bucketed_join" -> ((s, dir) => {
      val (oTbl, lTbl) = ensureBucketed(s, dir)
      val o = s.table(oTbl).hint("merge")
      val l = s.table(lTbl).hint("merge")
      o.join(l, "o_orderkey")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"), sum(col("l_cents")).as("cents"))
        .select(col("o_orderkey"), col("n_items"),
          (col("cents") / 100.0).as("revenue"))
    }),

    // ---- left semi join: customers WITH a qualifying order (EXISTS) —
    // the complement of q_antijoin, emitting probe rows exactly once
    // regardless of match multiplicity ----
    "q_semijoin" -> ((s, dir) => {
      val c = Tables.read(s, dir, "customer")
      val big = Tables.read(s, dir, "orders")
        .filter(col("o_totalprice") > 300000.0)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"))
    }),

    // ---- bucketized range join (J-family beyond the reference): orders'
    // price points against per-priority lower-half price bands — a plain
    // lo <= v < hi join plans as a nested loop; the bucket decomposition
    // (Joins.rangeJoin) makes it a shuffled equi-join on bucket id, refined
    // exactly. Covered by PlansSpec's global no-nested-loop assertion ----
    "q_range_join" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val o = Tables.read(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"), cents.as("v"))
      val bands = o.groupBy(col("o_orderpriority").as("band"))
        .agg(min(col("v")).as("lo"),
          expr("min(v) + (max(v) - min(v)) div 2").as("hi"))
      operators.Joins.rangeJoin(o.select(col("o_orderkey"), col("v")),
          bands, width = 1000000L)
        .groupBy("band")
        .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_cents"))
    }),

    // ---- date-partitioned layout + partition pruning: a one-week filter
    // over the d=YYYY-MM-DD layout scans 7 of 30 directories — the scan
    // never touches the other 23 days' files. PlansSpec asserts the pruned
    // partition count; the oracle recomputes from the unpartitioned source ----
    "q_partition_prune" -> ((s, dir) => {
      val path = ensurePartitionedEvents(s, dir)
      s.read.parquet(path)
        .filter(col("d").between(lit("2024-01-08"), lit("2024-01-14")))
        .groupBy("d", "event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 1000).cast("long")).as("value_mils"))
        .select(col("d").cast("string").as("d"), col("event_type"),
          col("cnt"), col("value_mils"))
    }),

    // ---- parquet schema evolution: a corpus written in two generations
    // (v1 without `quality`, v2 with it) reads back as ONE relation under
    // mergeSchema, absent columns null — the lake-format reality of any
    // long-lived 100 TB corpus (schemas change; old files don't rewrite) ----
    "q_schema_evolve" -> ((s, dir) => {
      val out = taggedTmpPath("graft_schema_evolve", dirTag(dir))
      val docs = Tables.read(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$out/gen=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") % 100).as("quality"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("doc_id"), col("lang"), col("quality"), col("gen").cast("long").as("gen"))
    }),

    // ---- small-files compaction roundtrip: a 16-way fragmented write
    // (the residue every incremental writer leaves) compacts shuffle-free
    // to few files, values hash-exact against the original ----
    "q_compact" -> ((s, dir) => {
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(16)
        .write.mode("overwrite").parquet(taggedTmpPath("graft_fragmented", dirTag(dir)))
      sources.Sinks.compact(s, taggedTmpPath("graft_fragmented", dirTag(dir)),
        taggedTmpPath("graft_compacted", dirTag(dir)), targetBytes = 64L * 1024)
      s.read.parquet(taggedTmpPath("graft_compacted", dirTag(dir)))
    }),

    // ---- dynamic partition overwrite (the lakehouse partition-level
    // replace): a lang-partitioned corpus takes a re-ingest batch touching
    // two of five partitions; DYNAMIC mode replaces exactly the touched
    // partitions in place. STATIC mode (the Spark default) would wipe the
    // other three — the oracle census would catch that as missing rows,
    // and a non-partitioned rewrite would lose partition pruning ----
    "q_dpo" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = taggedTmpPath("graft_dpo", dirTag(dir))
      docs.write.mode("overwrite").partitionBy("lang").parquet(path)
      val batch = docs.filter(col("lang").isin("en", "de"))
        .withColumn("n_chars", col("n_chars") + lit(1000000L))
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
      try batch.write.mode("overwrite").partitionBy("lang").parquet(path)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.read.parquet(path).groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    }),

    // ---- DataSource V2 connector for the reference's numbers(N) table
    // (k-means.sql:6): range pushdown tightens the generated interval
    // row-exactly BEFORE split planning, and pruning keeps hex out of the
    // scan when unused — both visible in the BatchScan description ----
    "q_dsv2_numbers" -> ((s, _) =>
      s.read.format("graft-numbers")
        .option("end", 100000L).option("splits", 32).load()
        .filter(col("i") >= 20000L && col("i") < 80000L)
        .groupBy((col("i") % 7L).as("bucket"))
        .agg(count(lit(1)).as("n"), sum("i").as("s"),
          max("hex").as("max_hex"))),

    // ---- JSON-lines roundtrip (the interchange format LLM corpora actually
    // arrive in): write documents as JSONL, read back with an explicit
    // schema, hash-match row-for-row against the parquet original ----
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val out = taggedTmpPath("graft_jsonl_roundtrip", dirTag(dir))
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
        .write.mode("overwrite").json(out)
      s.read.schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
        .json(out)
    }),

    // ---- ORC roundtrip: the second columnar lake format next to parquet
    // (long-lived corpora are rarely single-format); write + read back
    // hash-matches the parquet original, proving format-agnostic fidelity ----
    "q_orc_roundtrip" -> ((s, dir) => {
      val out = taggedTmpPath("graft_orc_roundtrip", dirTag(dir))
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
    }),

    // ---- HyperLogLog distinct census (native.hll_sketch — a custom
    // TypedImperativeAggregate with a TRANSPARENT hash, so the DuckDB
    // oracle re-derives the registers hash-exactly): per-returnflag
    // distinct-orderkey sketches, PLUS an 'ALL' row whose registers are the
    // elementwise MAX of the per-flag arrays — the sketches merge into the
    // union sketch without rescanning, which is the whole 100 TB point
    // (m=256 bytes per slice; rollups over billions of rows combine
    // sketches, not rows). n_exact rides alongside so the row itself shows
    // the sketch error; denominators stay exact integers (see HllSketch) ----
    "q_hll" -> ((s, dir) => {
      // KEYED widen (r19): the r18 round-robin widen lost +1.0 s to its
      // SPARK-23207 pre-sort of 600k rows and was reverted; widenBy has no
      // pre-sort, and the profile shows the whole sketch build serialized
      // in the single-file scan task (crit ≈ wall). Register merge is a
      // max — order-free — so the spread is value-identical.
      val li = operators.Par.widenBy(
        Tables.read(s, dir, "lineitem"), col("l_orderkey"))
      val perFlag = li.groupBy(col("l_returnflag").as("scope"))
        .agg(plans.native.hll_sketch(col("l_orderkey"), p = 8).as("regs"),
          countDistinct(col("l_orderkey")).as("n_exact"))
      val flagRows = perFlag.select(col("scope"), col("n_exact"),
        plans.native.hll_estimate(col("regs"), p = 8).as("hll_est"),
        plans.native.hll_zeros(col("regs")).as("v_zero"),
        plans.native.hll_denom_x2p33(col("regs")).as("denom_x2p33"))
      // union-of-slices: merge the per-flag registers relationally
      val merged = perFlag
        .select(posexplode(col("regs")).as(Seq("i", "r")))
        .groupBy("i").agg(max(col("r")).as("r"))
        .agg(array_sort(collect_list(struct(col("i"), col("r")))).as("pairs"))
        .select(transform(col("pairs"), x => x.getField("r")).as("regs"))
      val allRow = merged
        .crossJoin(li.agg(countDistinct(col("l_orderkey")).as("n_exact")))
        .select(lit("ALL").as("scope"), col("n_exact"),
          plans.native.hll_estimate(col("regs"), p = 8).as("hll_est"),
          plans.native.hll_zeros(col("regs")).as("v_zero"),
          plans.native.hll_denom_x2p33(col("regs")).as("denom_x2p33"))
      flagRows.unionByName(allRow)
    }),

    // ---- KMV source-overlap census (Sketches.kmvSourceOverlap): pairwise
    // Jaccard/union estimates for every source pair from bottom-k distinct
    // token-hash sketches — one distinct shuffle + a sketch-sized pair
    // join, instead of S² corpus-scale set intersections. The per-source
    // bottom-k cuts below the shuffle via the native two-phase top-k plan ----
    "q_kmv_overlap" -> ((s, dir) =>
      operators.Sketches.kmvSourceOverlap(
        Tables.read(s, dir, "documents"), k = 128)),

    // ---- systematic PPS sampling (TextAnalysis.ppsSample): every doc whose
    // cumulative-weight interval contains a multiple of total/n — integer-
    // exact, Σ n_hits = total div step by construction, and the running sum
    // is the parallel two-level prefix, never a single-partition window ----
    "doc_sample_pps" -> ((s, dir) =>
      operators.TextAnalysis.ppsSample(
        Tables.read(s, dir, "documents"), nTarget = 50)),

    // ---- blocked edit-distance record linkage (Dedup.fuzzyNearestName):
    // each part's nearest other part name by levenshtein, candidates from a
    // first-TWO-words equi-join block + length band — the Fellegi-Sunter
    // blocking design; never all-pairs, tail-only threshold refine ----
    "dedup_fuzzy" -> ((s, dir) =>
      operators.Dedup.fuzzyNearestName(
        Tables.read(s, dir, "part"), key = "p_partkey", name = "p_name",
        blockTokens = 2)),

    // ---- MMR diversity selection: greedy relevance-vs-diversity picks,
    // one TakeOrdered pool pass + k one-scan rounds with selected vectors
    // as literals (the k-means++ discipline); unrolled-CTE oracle ----
    "sim_mmr" -> ((s, dir) =>
      operators.Similarity.mmrSelect(Tables.read(s, dir, "embeddings"),
        queryId = 0L, poolSize = 20, k = 5)),

    // ---- triangle census over the mutual k-NN graph: per-node triangle
    // counts + local clustering coefficients (tight-cluster vs hub signal);
    // degree-bounded by k, so the path join is linear in n ----
    "sim_triangles" -> ((s, dir) =>
      operators.Similarity.trianglesFromEdges(
        knnEdges(s, dir).select(col("a_id"), col("b_id")))),

    // bounded-round 2-core peel over the mutual-kNN graph — the
    // dense-community extractor (duplicate cliques / cyclic semantic
    // clusters survive, pendant chains and star fringes peel away; the
    // mutual-4NN graph is sparse enough that its 3-core is empty at
    // fixture scale, so 2 is the working curation threshold); same
    // 12-round cap on both engines, so the hash compare holds whether
    // or not the fixture converges at the cap
    "sim_kcore" -> ((s, dir) =>
      operators.Similarity.kCoreFromEdges(
        knnEdges(s, dir).select(col("a_id"), col("b_id")), k = 2)),

    // semi-supervised label propagation over the mutual-kNN graph: every
    // fifth vector keeps its audited label, four synchronous majority-
    // vote rounds (count desc, smallest label — deterministic ties)
    // spread it along the graph; seeds clamped, unlabeled come out -1
    "sim_label_prop" -> ((s, dir) => {
      val nodes = Tables.read(s, dir, "embeddings").select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("label").cast("long"))
          .as("seed_lab"))
      operators.Similarity.labelPropagate(
        knnEdges(s, dir).select(col("a_id"), col("b_id")), nodes)
    }),

    // ---- the sketch LAKE: per-(scope, ingest-slice) HLL registers
    // materialized to parquet, then the scope rollup computed from the
    // PERSISTED sketches alone — registers survive serialization and merge
    // by max across slices, so incremental ingest writes tiny sketch rows
    // and rollups never rescan the fact table. Oracle = the same per-scope
    // estimates derived from raw rows (merge exactness is the contract) ----
    "q_hll_persisted" -> ((s, dir) => {
      val out = taggedTmpPath("graft_hll_lake", dirTag(dir))
      Tables.read(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("scope"), (col("l_orderkey") % 8).as("slice"))
        .agg(plans.native.hll_sketch(col("l_orderkey"), p = 8).as("regs"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(col("scope"), posexplode(col("regs")).as(Seq("i", "r")))
        .groupBy("scope", "i").agg(max(col("r")).as("r"))
        .groupBy("scope")
        .agg(array_sort(collect_list(struct(col("i"), col("r")))).as("pairs"))
        .select(col("scope"),
          transform(col("pairs"), x => x.getField("r")).as("regs"))
        .select(col("scope"),
          plans.native.hll_estimate(col("regs"), p = 8).as("hll_est"),
          plans.native.hll_zeros(col("regs")).as("v_zero"),
          plans.native.hll_denom_x2p33(col("regs")).as("denom_x2p33"))
    }),

    // ---- trainable quality filter (QualityModel.trainScore): weak labels
    // from the heuristic gate, a fixed-point hard-sigmoid gradient descent
    // generalizes them over the OTHER quality signals. The training run is
    // integer-exact (BigInt driver updates, truncating division), so the
    // ENTIRE fit unrolls into a HUGEINT CTE oracle and the scores
    // hash-match — the km_fit2_exact discipline applied to model training
    // (the spec additionally pins separable-data accuracy) ----
    "doc_quality_lr" -> ((s, dir) =>
      operators.QualityModel.trainScore(Tables.read(s, dir, "documents"))),

    // ---- per-source duplication health: exact dup share per source —
    // the triage table that decides WHERE dedup budget goes (a source at
    // 40% dup_ppm is a crawler bug, not a dedup-pipeline problem) ----
    "doc_dup_by_source" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          expr("((n_docs - n_distinct) * 1000000) div n_docs").as("dup_ppm"))),

    // ---- corrupt-ingest quarantine census: a JSONL batch with every 7th
    // line deterministically truncated mid-object reads back PERMISSIVE —
    // good rows parse, corrupt rows quarantine into the _bad column
    // instead of failing the job (the ingest-hygiene contract for feeds
    // you don't control). The oracle derives the expected census from the
    // corruption RULE, so the parser's good/bad split is value-checked ----
    "q_badrecords" -> ((s, dir) => {
      val out = taggedTmpPath("graft_badjsonl", dirTag(dir))
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .selectExpr("to_json(struct(doc_id, lang, n_chars)) AS line", "doc_id")
        .selectExpr("CASE WHEN doc_id % 7 = 0 " +
          "THEN left(line, CAST(length(line) div 2 AS INT)) ELSE line END AS value")
        .write.mode("overwrite").text(out)
      s.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(out)
        .select(when(col("_bad").isNotNull, lit("_corrupt"))
          .otherwise(col("lang")).as("lang"))
        .groupBy("lang").agg(count(lit(1)).as("n"))
    }),

    // ---- sketch-powered FILE SKIPPING: a per-file Bloom index over the
    // key column (one bloom_sketch row per parquet file), point lookups
    // probe the index with the codegen'd BloomMightContain and read ONLY
    // candidate files — min/max stats can't skip on a hash-distributed
    // key, a Bloom per file can (no false negatives, so the pruned read
    // is exact; FPs only cost an extra file). The index is the skip
    // structure a 100 TB table keeps per file next to footer stats ----
    "q_bloom_index" -> ((s, dir) => {
      val out = taggedTmpPath("graft_bloom_files", dirTag(dir))
      Tables.read(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .repartition(16, col("doc_id"))
        .write.mode("overwrite").parquet(out)
      val keys = Seq(7L, 11L, 23L)
      val idx = s.read.parquet(out)
        .groupBy(input_file_name().as("f"))
        .agg(plans.native.bloom_sketch(col("doc_id"), 1024, 3).as("bf"))
      val cand = idx.filter(keys
          .map(k => plans.native.bloom_might_contain(col("bf"), lit(k), 1024, 3))
          .reduce(_ || _))
        .select("f").collect().map(_.getString(0))
      s.read.parquet(cand.toIndexedSeq: _*)
        .filter(col("doc_id").isin(keys: _*))
    }),

    // ---- transparent Bloom filter state (plans.BloomSketch — the
    // membership sketch next to CMS/HLL/KMV): per-source filters over
    // distinct shingle ids, emitted as 32-bit words so the DuckDB oracle
    // rebuilds the EXACT bit state with integer SQL; the codegen'd
    // BloomMightContain probe is pinned in SketchesSpec (no false
    // negatives, measured FP rate, interpreted ≡ codegen) ----
    "q_bloom_sketch" -> ((s, dir) => {
      val tok = Tables.read(s, dir, "documents")
        .select(col("source"),
          explode(plans.native.shingle_ids(col("text"), 3)).as("id"))
        .distinct()
      tok.groupBy("source")
        .agg(plans.native.bloom_sketch(col("id"), mBits = 1024, k = 3).as("bf"))
        .select(col("source"), posexplode(col("bf")).as(Seq("w", "word")))
        .select(col("source"), col("w").cast("long").as("w"), col("word"),
          bit_count(col("word")).cast("long").as("n_bits"))
    }),

    // ---- two-proportion A/B conversion analysis: deterministic arm
    // assignment, exact integer sufficient stats in one distinct pass, and
    // the pooled z² as a fixed double formula over them (the q_corr
    // determinism recipe — only correctly-rounded IEEE ops) ----
    "events_ab_test" -> ((s, dir) =>
      operators.Events.abTest(Tables.readEvents(s, dir))),

    // ---- difference-in-differences: per-user post−pre spend change (exact
    // cents), arm means + the t² statistic as fixed double formulas over
    // one pass of integer sufficient statistics ----
    "events_did" -> ((s, dir) =>
      operators.Events.diffInDiff(Tables.readEvents(s, dir))),

    // ---- exact EWMA of the daily revenue series: the α=1/2 integer
    // recursion (cents + prev) div 2 folded over the day-bounded array ----
    "events_ewma" -> ((s, dir) =>
      operators.Events.ewma(Tables.readEvents(s, dir))),

    // ---- the A/B planner: per relative MDE, the two-proportion sample
    // size the corpus's measured conversion rate needs at α=0.05 / 80%
    // power — the question asked BEFORE events_ab_test runs ----
    "events_power" -> ((s, dir) =>
      operators.Events.powerMde(Tables.readEvents(s, dir))),

    // ---- out-of-vocabulary census: per-doc share of tokens outside the
    // corpus' top-N vocabulary (broadcast anti-join; integer ppm) ----
    "text_oov" -> ((s, dir) =>
      operators.TextAnalysis.oovCensus(Tables.read(s, dir, "documents"))),

    // ---- length-decile quality calibration: ten equal-count buckets by
    // (n_chars, doc_id), exact integer quality profile per decile ----
    "doc_len_deciles" -> ((s, dir) =>
      operators.TextAnalysis.lengthDecileProfile(Tables.read(s, dir, "documents"))),

    // ---- (dow, hour) activity heatmap: the when-do-users-show-up matrix
    // behind load shaping and send-time decisions — one map-side-combined
    // groupBy on two derived integer keys, 168 output rows max ----
    "events_heatmap" -> ((s, dir) =>
      Tables.readEvents(s, dir)
        .select(expr("(unix_micros(ts) div 86400000000) % 7").as("dow"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hour"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("dow", "hour")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))),

    // ---- day-of-week seasonal decomposition: the daily series split into
    // a dow profile (integer floor mean per weekday slot) + exact residuals
    // — the calibration table behind the seasonal-naive forecast ----
    "events_seasonality" -> ((s, dir) => {
      val daily = Tables.readEvents(s, dir)
        .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .withColumn("dow", expr("(day_us div 86400000000) % 7"))
      val prof = daily.groupBy("dow")
        .agg(expr("sum(cents) div count(*)").as("dow_mean_cents"))
      daily.join(prof, "dow")
        .select(col("day_us"), col("dow"), col("cents"), col("dow_mean_cents"),
          (col("cents") - col("dow_mean_cents")).as("resid_cents"))
    }),

    // ---- CUSUM control chart: level-shift detection over the
    // deseasonalized daily series; the sequential recursion evaluated in
    // closed form (prefix sum − running min), all integer cents ----
    "events_cusum" -> ((s, dir) =>
      Events.cusum(Tables.readEvents(s, dir))),

    // ---- seasonal-naive forecast backtest: forecast(day) = actual(day-7)
    // over the daily revenue series, with per-day absolute error and APE —
    // the baseline every forecasting model must beat, and the shape of a
    // backtest harness (the ordered pass runs over calendar DAYS, bounded
    // metadata scale, after one day-level aggregation of the fact table) ----
    "events_forecast_naive" -> ((s, dir) => {
      val daily = Tables.readEvents(s, dir)
        .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("day_us")
      daily.withColumn("forecast", lag("cents", 7).over(w))
        .filter(col("forecast").isNotNull)
        .select(col("day_us"), col("cents"), col("forecast"),
          abs(col("cents") - col("forecast")).as("abs_err"),
          when(col("cents") =!= 0,
            expr("(abs(cents - forecast) * 1000000) div cents"))
            .otherwise(lit(null)).as("ape_ppm"))
    }),

    // ---- CUPED variance reduction: pre-period covariate adjustment with
    // pooled theta and the rho-squared guaranteed variance cut — exact
    // integer sufficient stats in one pass, fixed double formulas over
    // them (the q_corr recipe) ----
    "events_cuped" -> ((s, dir) =>
      operators.Events.cuped(Tables.readEvents(s, dir))),

    // ---- daily distinct-user census via HLL registers (the time-series
    // form of q_hll, exercising the aggregate on the events table): one
    // m=16-byte register array per day — the state a year-long dashboard
    // keeps per slice — with the exact count riding alongside; raw
    // estimator valid (n ≥ 2.5m per day at every SF the driver runs) ----
    "events_hll_users" -> ((s, dir) =>
      Tables.readEvents(s, dir)
        .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        .agg(plans.native.hll_sketch(col("user_id"), p = 4).as("regs"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("day_us"), col("n_exact"),
          plans.native.hll_estimate(col("regs"), p = 4).as("hll_est"),
          plans.native.hll_zeros(col("regs")).as("v_zero"),
          plans.native.hll_denom_x2p33(col("regs")).as("denom_x2p33"))),

    // ---- epsilon-heavy-hitters by CMS gate + exact verify: scan 1 builds
    // the count-min matrix (whose row sums carry N for free, so the
    // threshold N/64 is sketch-derived); scan 2 gates every token on its
    // CMS estimate BEFORE the shuffle — only heavy candidates (plus the
    // sketch's one-sided false positives) ever shuffle — and the exact
    // group count kills the FPs. No false negatives: est >= true count
    // always, so every true heavy hitter survives the gate ----
    "text_heavy_hitters" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val ids = docs.select(plans.native.token_ids(col("text")).as("ids"))
      val sk = ids.agg(plans.native.cms_sketch(col("ids"), 1024, 4).as("cms"))
        .withColumn("thr",
          expr("aggregate(slice(cms, 1, 1024), CAST(0 AS BIGINT), (a, x) -> a + x) div 64 + 1"))
      docs.select(explode(split(col("text"), " ")).as("token"))
        .crossJoin(broadcast(sk))
        .withColumn("id", plans.native.poly_hash(col("token")))
        .withColumn("est", plans.native.cms_estimate(col("cms"), col("id")))
        .filter(col("est") >= col("thr"))
        .groupBy("token", "id", "est", "thr")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= col("thr"))
        .select(col("token"), col("id"), col("cnt"), col("est"), col("thr"))
    }),

    // ---- Pareto frontier over (quality up, cost down) — the non-dominated
    // document set for multi-objective selection; the only ordered pass
    // runs over ≤1001 distinct per-mille quality levels, never over docs ----
    "doc_pareto" -> ((s, dir) =>
      operators.TextAnalysis.paretoFrontier(Tables.read(s, dir, "documents")))
  )

  // ---------------------------------------------------------------- oracles

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100.0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*10000.0) AS BIGINT)) AS DOUBLE)/10000.0 AS sum_disc,
        |  sum(l_quantity)/count(*) AS avg_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100.0) AS BIGINT)) AS DOUBLE)/100.0/count(*) AS avg_price,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_topn_join" ->
      """WITH rev AS (
        |  SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
        |    CAST(sum(CAST(round(o.o_totalprice*100.0) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1, 2),
        |r AS (
        |  SELECT n.n_name, rev.ck AS c_custkey, rev.revenue,
        |    CAST(row_number() OVER (PARTITION BY rev.nk ORDER BY rev.revenue DESC, rev.ck) AS BIGINT) AS rnk
        |  FROM rev JOIN nation n ON rev.nk = n.n_nationkey)
        |SELECT n_name, c_custkey, revenue, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "q_filter_pushdown" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice*l_discount*10000.0) AS BIGINT)) AS DOUBLE)/10000.0 AS disc_revenue
        |FROM lineitem
        |WHERE l_quantity >= 30.0 AND l_discount >= 0.05
        |GROUP BY l_returnflag""".stripMargin,
    "q_multijoin" ->
      """SELECT r.r_name, count(*) AS cnt,
        |  CAST(sum(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*10000.0) AS BIGINT)) AS DOUBLE)/10000.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin,
    "q_antijoin" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)""".stripMargin,
    "q_semijoin" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q_pivot" ->
      """SELECT l_linestatus,
        |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS "A",
        |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS "N",
        |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS "R"
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "q_outer_join" ->
      """WITH c AS (SELECT c_nationkey AS nk, count(DISTINCT c_custkey) AS n_customers
        |  FROM customer WHERE c_nationkey % 3 != 0 GROUP BY 1),
        |s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers
        |  FROM supplier WHERE s_nationkey % 2 != 0 GROUP BY 1)
        |SELECT CAST(coalesce(c.nk, s.nk) AS BIGINT) AS nationkey,
        |  coalesce(c.n_customers, 0) AS n_customers,
        |  coalesce(s.n_suppliers, 0) AS n_suppliers
        |FROM c FULL OUTER JOIN s ON c.nk = s.nk""".stripMargin,
    "km_yh" -> s"WITH $YH SELECT i, x, y FROM yh",
    "km_seed_first" ->
      s"WITH $YH SELECT CAST(1 AS BIGINT) AS j, x, y FROM yh ORDER BY i LIMIT 1",
    "km_seed_next" ->
      s"""WITH $YH,
         |c1 AS (SELECT x, y FROM yh ORDER BY i LIMIT 1),
         |w AS (SELECT y.i, y.x, y.y,
         |    CAST(round((y.x-c.x)*(y.x-c.x)+(y.y-c.y)*(y.y-c.y)) AS BIGINT) AS w
         |  FROM yh y CROSS JOIN c1 c
         |  WHERE NOT EXISTS (SELECT 1 FROM c1 WHERE c1.x = y.x AND c1.y = y.y)),
         |s AS (SELECT i, x, y,
         |    sum(w) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         |    sum(w) OVER () AS tw
         |  FROM w)
         |SELECT CAST(2 AS BIGINT) AS j, x, y FROM s WHERE cw*2 >= tw ORDER BY cw, i LIMIT 1""".stripMargin,
    "km_validity" ->
      s"""WITH $YH, s AS (SELECT * FROM yh), $C4, $ASSIGN,
         |per AS (SELECT a.j, count(*) AS n,
         |    CAST(sum(CAST(round(sqrt((a.x-c.x)*(a.x-c.x)+(a.y-c.y)*(a.y-c.y))*1e4) AS BIGINT)) AS DOUBLE)/1e4 AS sd,
         |    any_value(c.x) AS cx, any_value(c.y) AS cy
         |  FROM a JOIN c ON a.j = c.j GROUP BY a.j),
         |p2 AS (SELECT j, n, sd/n AS sc, cx, cy FROM per),
         |mx AS (SELECT l.j,
         |    max((l.sc + r.sc)/sqrt((l.cx-r.cx)*(l.cx-r.cx)+(l.cy-r.cy)*(l.cy-r.cy))) AS mx
         |  FROM p2 l JOIN p2 r ON l.j <> r.j GROUP BY l.j),
         |db AS (SELECT CAST(sum(CAST(round(mx*1e6) AS BIGINT)) AS DOUBLE)/1e6/4 AS db_index FROM mx),
         |g AS (SELECT CAST(sum(CAST(round(x*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS gx,
         |    CAST(sum(CAST(round(y*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS gy,
         |    count(*) AS n FROM yh),
         |w AS (SELECT CAST(sum(CAST(round(((a.x-c.x)*(a.x-c.x)+(a.y-c.y)*(a.y-c.y))*100.0) AS BIGINT)) AS DOUBLE)/100.0 AS w
         |  FROM a JOIN c ON a.j = c.j),
         |bb AS (SELECT CAST(sum(CAST(round((p.n*((p.cx-g.gx)*(p.cx-g.gx)+(p.cy-g.gy)*(p.cy-g.gy)))*100.0) AS BIGINT)) AS DOUBLE)/100.0 AS b
         |  FROM p2 p CROSS JOIN g)
         |SELECT db.db_index, (bb.b/3)/(w.w/(g.n-4)) AS ch_index
         |FROM db, w, bb, g""".stripMargin,

    "km_assign" ->
      s"WITH $YH, s AS (SELECT * FROM yh), $C4, $ASSIGN SELECT i, j FROM a",
    "km_assign_native" ->
      s"WITH $YH, s AS (SELECT * FROM yh), $C4, $ASSIGN SELECT i, j FROM a",
    "km_model_roundtrip" ->
      s"WITH $YH, s AS (SELECT * FROM yh), $C4, $ASSIGN SELECT i, j FROM a",
    "km_pivot_viz" ->
      s"""WITH $YH, s AS (SELECT * FROM yh), $C4, $ASSIGN
         |SELECT i, x,
         |  CASE WHEN j = 1 THEN y END AS c1, CASE WHEN j = 2 THEN y END AS c2,
         |  CASE WHEN j = 3 THEN y END AS c3, CASE WHEN j = 4 THEN y END AS c4
         |FROM a""".stripMargin,
    "km_lloyd_step" ->
      s"""WITH $YH, s AS (SELECT * FROM yh), $C4, $ASSIGN
         |SELECT j, count(*) AS n,
         |  CAST(sum(CAST(round(x*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS cx,
         |  CAST(sum(CAST(round(y*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS cy
         |FROM a GROUP BY j""".stripMargin,
    "km_delta" ->
      s"""WITH $YH, s AS (SELECT * FROM yh), $C4, $ASSIGN, $LLOYD
         |SELECT l.j,
         |  CAST(round(sqrt((l.cx-c.x)*(l.cx-c.x)+(l.cy-c.y)*(l.cy-c.y))*1e6) AS BIGINT) AS move_e6
         |FROM l JOIN c ON l.j = c.j""".stripMargin,
    "km_fit_minibatch" -> OracleSql.kmFitMinibatch(k = 8, dim = 64,
      batchFrac = 0.1, tol = 0.01, maxIter = 20, seed = 42L),
    "km_fit_bounded" -> OracleSql.kmFitBounded(k = 4, steps = 3, tol = 0.01),
    "km_fit_free" -> OracleSql.kmFitFree(k = 4, tol = 0.01, maxSteps = 64),
    // pinned-fixture censuses (OracleSql.pinnedCensus scaladoc: the mm_*
    // graduation pattern) — closes the rows-only tail to zero. Captured
    // from the committed sf0.01 fixture; fits measured deterministic
    // across fresh JVMs and cpu counts (4/7/32) before pinning.
    // PINNED UNDER Spark/MLlib 4.1.2 (Scala 2.13): km_fit_mllib and
    // km_fit_bisecting pin MLlib-internal float paths that are
    // deterministic per Spark version but NOT guaranteed across versions —
    // after a Spark upgrade, a hash mismatch HERE (and only here) is
    // triaged as recapture-needed, not regression: re-verify determinism
    // across fresh JVMs and cpu counts, check the KMeansSpec WCSS quality
    // gate still holds, then recapture the census from the new version.
    "km_fit" -> OracleSql.pinnedCensus(Seq(1 -> 59L, 2 -> 59L, 3 -> 11L,
      4 -> 29L, 5 -> 93L, 6 -> 49L, 7 -> 53L, 8 -> 45L, 9 -> 39L,
      10 -> 63L)),
    "km_fit_mllib" -> OracleSql.pinnedCensus(Seq(1 -> 47L, 2 -> 1L,
      3 -> 113L, 4 -> 1L, 5 -> 43L, 6 -> 60L, 7 -> 9L, 8 -> 52L, 9 -> 133L,
      10 -> 41L)),
    "km_fit_bisecting" -> OracleSql.pinnedCensus(Seq(1 -> 67L, 2 -> 55L,
      3 -> 58L, 4 -> 61L, 5 -> 48L, 6 -> 37L, 7 -> 30L, 8 -> 62L, 9 -> 39L,
      10 -> 43L)),
    "km_gap_fitted" -> OracleSql.kmGapFitted(ks = 2 to 6, refSets = 3,
      steps = 3, tol = 0.01),
    "km_fit2_exact" ->
      s"""WITH $YH, s AS (SELECT * FROM yh), $C4, $ASSIGN, $LLOYD,
         |c2 AS (SELECT j, cx AS x, cy AS y FROM l),
         |a2 AS (SELECT i, x, y, j FROM (
         |  SELECT s.i, s.x, s.y, c2.j,
         |    row_number() OVER (PARTITION BY s.i
         |      ORDER BY (s.x-c2.x)*(s.x-c2.x)+(s.y-c2.y)*(s.y-c2.y), c2.j) AS rn
         |  FROM s CROSS JOIN c2) t WHERE rn = 1)
         |SELECT j, count(*) AS n,
         |  CAST(sum(CAST(round(x*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS cx,
         |  CAST(sum(CAST(round(y*1e4) AS BIGINT)) AS DOUBLE)/1e4/count(*) AS cy
         |FROM a2 GROUP BY j""".stripMargin,
    "km_wcr_log" -> OracleSql.kmWcrLog(k = 4, steps = 3, tol = 0.01),
    "mm_features" -> OracleSql.mmFeatures,
    // same closed-form byte census, reached through the file-ingest loop
    "mm_binaryfile_ingest" -> OracleSql.mmFeatures,
    "mm_thumbs" -> OracleSql.mmThumbs,
    "mm_audio_seg" -> OracleSql.mmAudioSeg,
    "mm_audio_fingerprint" -> OracleSql.mmAudioFingerprint,
    "mm_keyframes" -> OracleSql.mmKeyframes,
    "mm_phash" -> OracleSql.mmPhashCapped(
      cap = operators.Multimodal.defaultMaxBucketRows),
    "mm_phash_exact" -> OracleSql.mmPhash,
    "mm_frame_dedup" -> OracleSql.mmFrameDedupCapped(
      cap = operators.Multimodal.defaultMaxBucketRows),
    "emb_pca" -> OracleSql.embPca(dim = 64, iters = 100),
    "emb_whiten" -> OracleSql.embWhiten(dim = 64, iters = 100),
    "km_elbow" ->
      s"""WITH $YH, $C4,
         |m AS (SELECT y.i, min((y.x-c.x)*(y.x-c.x)+(y.y-c.y)*(y.y-c.y)) AS msq
         |  FROM yh y CROSS JOIN c GROUP BY y.i)
         |SELECT CAST(sum(CAST(round(sqrt(msq)*1e4) AS BIGINT)) AS DOUBLE)/1e4 AS elbow_d1,
         |       CAST(sum(CAST(round(msq*0.01) AS BIGINT)) AS DOUBLE)/0.01 AS elbow_d2
         |FROM m""".stripMargin,
    "km_optimal_k" ->
      s"""WITH $YH,
         |c8 AS (SELECT CAST(row_number() OVER (ORDER BY i) AS BIGINT) AS j, x, y
         |  FROM (SELECT i, x, y FROM yh ORDER BY i LIMIT 8) t),
         |ks AS (SELECT CAST(unnest([2,3,4,5,6,7,8]) AS BIGINT) AS k),
         |m AS (SELECT ks.k, y.i, min((y.x-c.x)*(y.x-c.x)+(y.y-c.y)*(y.y-c.y)) AS msq
         |  FROM ks CROSS JOIN yh y JOIN c8 c ON c.j <= ks.k
         |  GROUP BY ks.k, y.i),
         |e AS (SELECT k,
         |  CAST(sum(CAST(round(sqrt(msq)*1e4) AS BIGINT)) AS DOUBLE)/1e4 AS elbow_d1,
         |  CAST(sum(CAST(round(msq*0.01) AS BIGINT)) AS DOUBLE)/0.01 AS elbow_d2
         |  FROM m GROUP BY k),
         |s AS (SELECT * FROM yh WHERE i % greatest(1, (SELECT count(*) // 154 FROM yh)) = 0),
         |a AS (SELECT k, i, j FROM (
         |  SELECT ks.k, s.i, c.j,
         |    row_number() OVER (PARTITION BY ks.k, s.i
         |      ORDER BY (s.x-c.x)*(s.x-c.x)+(s.y-c.y)*(s.y-c.y), c.j) AS rn
         |  FROM ks CROSS JOIN s JOIN c8 c ON c.j <= ks.k) t WHERE rn = 1),
         |pd AS (SELECT s1.i AS i1, s2.i AS i2,
         |    CAST(round(sqrt((s1.x-s2.x)*(s1.x-s2.x)+(s1.y-s2.y)*(s1.y-s2.y))*1e3) AS BIGINT) AS dfx
         |  FROM s s1 JOIN s s2 ON s1.i <> s2.i),
         |g AS (SELECT a1.k,
         |    CAST(sum(CASE WHEN a1.j = a2.j THEN dfx END) AS DOUBLE)/1e3
         |      / sum(CASE WHEN a1.j = a2.j THEN 1 ELSE 0 END) AS ai,
         |    CAST(sum(CASE WHEN a1.j <> a2.j THEN dfx END) AS DOUBLE)/1e3
         |      / sum(CASE WHEN a1.j <> a2.j THEN 1 ELSE 0 END) AS bi
         |  FROM pd
         |  JOIN a a1 ON a1.i = pd.i1
         |  JOIN a a2 ON a2.k = a1.k AND a2.i = pd.i2
         |  GROUP BY a1.k)
         |SELECT e.k, e.elbow_d1, e.elbow_d2, (g.bi-g.ai)/greatest(g.ai,g.bi) AS si
         |FROM e JOIN g ON e.k = g.k""".stripMargin,
    // Mirror of Quality.gapStatisticNested: nested first-k seeds on the data
    // side, LCG-uniform reference draws (GapLcg* constants) with their own
    // nested seeds, fixed-point dispersions, and scalar log math written in
    // the exact op order the Scala driver uses. `chosen` compares e6-rounded
    // BIGINTs, so the pick is engine-exact.
    "km_gap" ->
      s"""WITH $YH,
         |s AS (SELECT i, x, y FROM yh WHERE i % 7 = 0),
         |box AS (SELECT min(x) AS lox, max(x) AS hix, min(y) AS loy, max(y) AS hiy FROM s),
         |c AS (SELECT CAST(row_number() OVER (ORDER BY i) AS BIGINT) AS j, x, y
         |  FROM (SELECT i, x, y FROM s ORDER BY i LIMIT 6) t),
         |ks AS (SELECT CAST(unnest([2,3,4,5,6]) AS BIGINT) AS k),
         |r AS (SELECT s.i,
         |  CAST((s.i*1103515245 + 12345) % 2147483647 AS DOUBLE)/2147483647.0*(b.hix-b.lox)+b.lox AS x0,
         |  CAST((s.i*1104515228 + 1012328) % 2147483647 AS DOUBLE)/2147483647.0*(b.hiy-b.loy)+b.loy AS y0,
         |  CAST((s.i*1105515211 + 2012311) % 2147483647 AS DOUBLE)/2147483647.0*(b.hix-b.lox)+b.lox AS x1,
         |  CAST((s.i*1106515194 + 3012294) % 2147483647 AS DOUBLE)/2147483647.0*(b.hiy-b.loy)+b.loy AS y1,
         |  CAST((s.i*1107515177 + 4012277) % 2147483647 AS DOUBLE)/2147483647.0*(b.hix-b.lox)+b.lox AS x2,
         |  CAST((s.i*1108515160 + 5012260) % 2147483647 AS DOUBLE)/2147483647.0*(b.hiy-b.loy)+b.loy AS y2
         |  FROM s CROSS JOIN box b),
         |rc AS (SELECT CAST(row_number() OVER (ORDER BY i) AS BIGINT) AS j,
         |    x0, y0, x1, y1, x2, y2
         |  FROM (SELECT * FROM r ORDER BY i LIMIT 6) t),
         |md AS (SELECT ks.k, s.i, min((s.x-c.x)*(s.x-c.x)+(s.y-c.y)*(s.y-c.y)) AS msq
         |  FROM ks CROSS JOIN s JOIN c ON c.j <= ks.k GROUP BY ks.k, s.i),
         |mr AS (SELECT ks.k, r.i,
         |    min((r.x0-c.x0)*(r.x0-c.x0)+(r.y0-c.y0)*(r.y0-c.y0)) AS msq0,
         |    min((r.x1-c.x1)*(r.x1-c.x1)+(r.y1-c.y1)*(r.y1-c.y1)) AS msq1,
         |    min((r.x2-c.x2)*(r.x2-c.x2)+(r.y2-c.y2)*(r.y2-c.y2)) AS msq2
         |  FROM ks CROSS JOIN r JOIN rc c ON c.j <= ks.k GROUP BY ks.k, r.i),
         |w AS (SELECT md.k,
         |    CAST(sum(CAST(round(md.msq*0.01) AS BIGINT)) AS DOUBLE)/0.01 AS wd
         |  FROM md GROUP BY md.k),
         |wr AS (SELECT mr.k,
         |    CAST(sum(CAST(round(mr.msq0*0.01) AS BIGINT)) AS DOUBLE)/0.01 AS w0,
         |    CAST(sum(CAST(round(mr.msq1*0.01) AS BIGINT)) AS DOUBLE)/0.01 AS w1,
         |    CAST(sum(CAST(round(mr.msq2*0.01) AS BIGINT)) AS DOUBLE)/0.01 AS w2
         |  FROM mr GROUP BY mr.k),
         |l AS (SELECT w.k, ln(wr.w0) AS l0, ln(wr.w1) AS l1, ln(wr.w2) AS l2,
         |    ln(w.wd) AS ld, (ln(wr.w0)+ln(wr.w1)+ln(wr.w2))/3.0 AS mean
         |  FROM w JOIN wr ON w.k = wr.k),
         |f AS (SELECT k,
         |    CAST(round((mean - ld)*1e6) AS BIGINT) AS gap_e6,
         |    CAST(round(sqrt(((l0-mean)*(l0-mean)+(l1-mean)*(l1-mean)+(l2-mean)*(l2-mean))/3.0)
         |      * sqrt(1.0 + 1.0/3.0) * 1e6) AS BIGINT) AS sk_e6
         |  FROM l),
         |sel AS (SELECT k, gap_e6, sk_e6,
         |    lead(gap_e6) OVER (ORDER BY k) AS ng,
         |    lead(sk_e6) OVER (ORDER BY k) AS nsk FROM f),
         |ch AS (SELECT coalesce(min(CASE WHEN ng IS NOT NULL AND gap_e6 >= ng - nsk
         |    THEN k END), 6) AS ck FROM sel)
         |SELECT k, gap_e6, sk_e6, CAST(CASE WHEN k = ch.ck THEN 1 ELSE 0 END AS BIGINT) AS chosen
         |FROM sel CROSS JOIN ch""".stripMargin,
    "km_silhouette" ->
      s"""WITH $YH, $C4, s AS (SELECT * FROM yh WHERE i % greatest(1, (SELECT count(*) // 652 FROM yh)) = 0), $ASSIGN,
         |p AS (SELECT a1.j AS j1, a2.j AS j2,
         |    sqrt((a1.x-a2.x)*(a1.x-a2.x)+(a1.y-a2.y)*(a1.y-a2.y)) AS d
         |  FROM a a1 JOIN a a2 ON a1.i <> a2.i),
         |g AS (SELECT
         |  CAST(sum(CASE WHEN j1 = j2 THEN CAST(round(d*1e3) AS BIGINT) END) AS DOUBLE)/1e3
         |    / sum(CASE WHEN j1 = j2 THEN 1 ELSE 0 END) AS ai,
         |  CAST(sum(CASE WHEN j1 <> j2 THEN CAST(round(d*1e3) AS BIGINT) END) AS DOUBLE)/1e3
         |    / sum(CASE WHEN j1 <> j2 THEN 1 ELSE 0 END) AS bi
         |  FROM p)
         |SELECT ai, bi, (bi-ai)/greatest(ai,bi) AS si FROM g""".stripMargin,
    "km_silhouette_rousseeuw" ->
      s"""WITH $YH, $C4, s AS (SELECT * FROM yh WHERE i % greatest(1, (SELECT count(*) // 652 FROM yh)) = 0), $ASSIGN,
         |p AS (SELECT a1.i AS i1, a1.j AS j1, a2.j AS j2,
         |    CAST(round(sqrt((a1.x-a2.x)*(a1.x-a2.x)+(a1.y-a2.y)*(a1.y-a2.y))*1e3) AS BIGINT) AS dfx
         |  FROM a a1 JOIN a a2 ON a1.i <> a2.i),
         |tc AS (SELECT i1, j1, j2, CAST(sum(dfx) AS DOUBLE)/1e3/count(*) AS md
         |  FROM p GROUP BY i1, j1, j2),
         |ai AS (SELECT i1, md AS a FROM tc WHERE j1 = j2),
         |bi AS (SELECT i1, min(md) AS b FROM tc WHERE j1 <> j2 GROUP BY i1),
         |si AS (SELECT (bi.b - ai.a)/greatest(ai.a, bi.b) AS si
         |  FROM ai JOIN bi ON ai.i1 = bi.i1)
         |SELECT CAST(sum(CAST(round(si*1e6) AS BIGINT)) AS DOUBLE)/1e6/count(*) AS mean_si,
         |  count(*) AS n_points
         |FROM si""".stripMargin,
    "km_assign_events" ->
      s"""WITH ${Tables.yhEventsSql},
         |c AS (SELECT CAST(row_number() OVER (ORDER BY i) AS BIGINT) AS j, x, y, z
         |  FROM (SELECT i, x, y, z FROM yhe ORDER BY i LIMIT 3) t),
         |a AS (SELECT i, y, j FROM (
         |  SELECT s.i, s.y, c.j,
         |    row_number() OVER (PARTITION BY s.i
         |      ORDER BY (s.x-c.x)*(s.x-c.x)+(s.y-c.y)*(s.y-c.y)+(s.z-c.z)*(s.z-c.z), c.j) AS rn
         |  FROM yhe s CROSS JOIN c) t WHERE rn = 1)
         |SELECT j, count(*) AS n,
         |  CAST(sum(CAST(round(y*100.0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
         |FROM a GROUP BY j""".stripMargin,
    "dedup_exact" -> OracleSql.dedupExact,
    "dedup_normalized" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n
        |FROM (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N} ]', '', 'g'), ' +', ' ', 'g')) AS k
        |  FROM documents)
        |GROUP BY k""".stripMargin,
    // URL synthesis replayed from (doc_id, source), then the identical four
    // anchored canonicalization regexes in the same order (each matches at
    // most once, so replace-first == Spark's replace-all)
    "dedup_url" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |  'W' || CAST(doc_id % 3 AS VARCHAR) || '.Example.com/p/' ||
        |  CAST(doc_id % 50 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=' || source ELSE '' END)
        |    AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    lower(url), '^https?://', ''), '^www\.', ''), '[?#].*$', ''),
        |    '/$', '') AS canon_url
        |  FROM u)
        |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_dups,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM c GROUP BY canon_url""".stripMargin,
    "dedup_ngram" -> OracleSql.dedupNgram(n = 3, thrNum = 1, thrDen = 5),
    "dedup_hotspots" -> OracleSql.dedupHotspots(n = 3, k = 20),
    "dedup_containment" -> OracleSql.dedupContainment(n = 3, thrNum = 3, thrDen = 10),
    "dedup_ngram_capped" -> OracleSql.dedupNgramCapped(n = 3, thrNum = 1, thrDen = 5, dfCap = 3),
    "dedup_spans" -> OracleSql.dedupSpans(n = 5, minDocs = 2),
    "dedup_span_stats" -> OracleSql.dedupSpanStats(n = 5, minDocs = 2),
    "dedup_span_removal" -> OracleSql.dedupSpanRemoval(n = 5, minDocs = 2),
    "dedup_minhash" -> OracleSql.dedupMinhash(n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2),
    "dedup_lsh_tuning" -> OracleSql.dedupLshTuning(
      n = 3, numHashes = 16, bandsList = Seq(2, 4, 8), thrNum = 1, thrDen = 2),
    "dedup_minhash_bbit" -> OracleSql.dedupBbit(
      n = 3, numHashes = 16, bands = 4, bitsList = Seq(4, 8, 16, 31),
      thrNum = 1, thrDen = 2),
    "dedup_soft" -> OracleSql.dedupSoft(
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2),
    "dedup_minhash_calibration" -> OracleSql.dedupMinhashCalibration(
      n = 3, numHashes = 16, bands = 4),
    "dedup_lsh_recall" -> OracleSql.dedupLshRecall(
      n = 3, thrNum = 1, thrDen = 5, numHashes = 16, bands = 4),
    "dedup_incremental" -> OracleSql.dedupIncremental(n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2),
    "dedup_components" -> OracleSql.dedupComponents(
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2),
    "dedup_components_star" -> OracleSql.dedupComponents(
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2),
    "dedup_cluster_sizes" -> OracleSql.dedupClusterSizes(
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2),
    "sim_cell_balance" -> OracleSql.simCellBalance(nCells = 16),
    "sim_cell_rebalance" -> OracleSql.simCellRebalance(nCells = 16,
      boundX100 = 300L),
    "sim_cells_twolevel" -> OracleSql.simCellsTwoLevel(nCells = 16, nSuper = 4),
    "sim_route_decision" -> OracleSql.simRouteDecision(nCells = 16,
      nSuper = 4, thresholdPpm = 990000L),
    "doc_split_leakproof" -> OracleSql.docSplitLeakproof(
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2,
      trainPct = 80, valPct = 10),
    "pipeline_split_contamination" ->
      s"""SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(c.contaminated) AS BIGINT) AS n_contaminated,
         |  CAST(sum(c.contaminated) * 1000000 // count(*) AS BIGINT) AS cont_ppm
         |FROM (${OracleSql.docSplitLeakproof(n = 3, numHashes = 16, bands = 4,
              thrNum = 1, thrDen = 2, trainPct = 80, valPct = 10)}) s
         |JOIN (${OracleSql.dedupDecontaminate(n = 3, thrNum = 1, thrDen = 10)}) c
         |  ON s.doc_id = c.doc_id
         |GROUP BY s.split""".stripMargin,
    "dedup_keep_best" -> OracleSql.dedupKeepBest(
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2),
    "dedup_keep" -> OracleSql.dedupKeepOne(
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2),
    "doc_forget" -> OracleSql.docForget(n = 3, numHashes = 16, bands = 4,
      thrNum = 1, thrDen = 2, chunkToks = 64, stride = 48, forgetMod = 97L),
    "doc_pref_pairs" -> OracleSql.docPrefPairs(n = 3, numHashes = 16,
      bands = 4, thrNum = 1, thrDen = 2),
    "dedup_edit" -> OracleSql.dedupEdit(prefixLen = 96, bucketChars = 64,
      maxDist = 12),
    "doc_kanon" -> OracleSql.docKanon(k = 5, maxSuppressedPct = 5),
    "dedup_simhash" -> OracleSql.dedupSimhash(bits = 32, maxHamming = 6),
    // the naive pair form IS the blocked query's oracle: pigeonhole chunk
    // blocking is lossless, so the outputs must be identical
    "dedup_simhash_blocked" -> OracleSql.dedupSimhash(bits = 48, maxHamming = 3),
    "dedup_embcos" -> OracleSql.dedupEmbCosine(thrE6 = 350000L),
    "dedup_embcos_blocked" -> OracleSql.dedupEmbCosineBlocked(nCells = 16, nProbe = 2, thrE6 = 350000L),
    "dedup_embcos_local" -> OracleSql.dedupEmbCosineBlocked(nCells = 16, nProbe = 2, thrE6 = 350000L),
    "dedup_semantic" -> OracleSql.dedupSemantic(nCells = 16, thrE6 = 500000L),
    "dedup_semantic_recall" -> OracleSql.dedupSemanticRecall(nCells = 16,
      thrE6 = 350000L, maxProbe = 8, probeLevels = Seq(1, 2, 4, 8)),
    "dedup_semantic_probe" -> OracleSql.dedupSemanticRecall(nCells = 16,
      thrE6 = 500000L, maxProbe = 8, probeLevels = Seq(1, 2, 4, 8)),
    "sim_knn_graph" -> OracleSql.simKnnGraph(nCells = 16, nProbe = 2, k = 4),
    "sim_knn_graph_blocked" ->
      OracleSql.simKnnGraph(nCells = 16, nProbe = 2, k = 4),
    "sim_triangles" -> OracleSql.simTriangles(nCells = 16, nProbe = 2, k = 4),
    "sim_kcore" -> OracleSql.simKcore(nCells = 16, nProbe = 2, k = 4,
      coreK = 2),
    "sim_label_prop" -> OracleSql.simLabelProp(nCells = 16, nProbe = 2,
      k = 4, seedMod = 5L),
    "sim_mmr" -> OracleSql.simMmr(queryId = 0L, poolSize = 20, k = 5),
    "sim_graph_rank" -> OracleSql.simGraphRank(nCells = 16, nProbe = 2, k = 4),
    "sim_bfs" -> OracleSql.simBfs(nCells = 16, nProbe = 2, k = 4,
      sources = Seq(0L, 1L, 2L, 3L), maxHops = 4),
    "sim_ood" -> OracleSql.simOod(nCells = 16),
    "sim_hard_negatives" -> OracleSql.simHardNegatives(nCells = 16, nProbe = 2, k = 3),
    "sim_topk" -> OracleSql.simTopK(nQueries = 5, k = 10),
    "sim_sq8" -> OracleSql.simSq8(dim = 64, nQueries = 5, k = 10),
    "sim_sq8_native" -> OracleSql.simSq8(dim = 64, nQueries = 5, k = 10),
    "sim_ivfsq8" -> OracleSql.simIvfSq8(nCells = 16, dim = 64, nQueries = 5,
      nProbe = 2, k = 10),
    "sim_ivfsq8_indexed" -> OracleSql.simIvfSq8(nCells = 16, dim = 64,
      nQueries = 5, nProbe = 2, k = 10),
    "sim_topk_native" -> OracleSql.simTopK(nQueries = 5, k = 10),
    "sim_ivf" -> OracleSql.simIvf(nCells = 16, nQueries = 5, nProbe = 2, k = 10),
    "retrieval_hybrid" -> OracleSql.retrievalHybrid(nQueries = 5, nTerms = 3,
      kList = 10, kOut = 10, rrfK = 60, nCells = 16, nProbe = 2,
      k1 = 1.2, b = 0.75),
    "retrieval_hybrid_indexed" -> OracleSql.retrievalHybrid(nQueries = 5,
      nTerms = 3, kList = 10, kOut = 10, rrfK = 60, nCells = 16, nProbe = 2,
      k1 = 1.2, b = 0.75),
    "doc_quality_lr" -> OracleSql.docQualityLr(iters = 20, lrNum = 3L,
      lrDen = 10000000L, minTokens = 5, maxTokens = 5000),
    "emb_pq_fitted" -> OracleSql.embPqFitted(m = 8, k = 16, dim = 64, iters = 2),
    "sim_recall" -> OracleSql.simRecall(nCells = 16, nQueries = 5, nProbe = 2, k = 10),
    "retrieval_mrr" -> OracleSql.retrievalMrr(nCells = 16, nQueries = 5,
      nProbe = 2, k = 10),
    "retrieval_ndcg" -> OracleSql.retrievalNdcg(nCells = 16, nQueries = 5,
      nProbe = 2, k = 10),
    "emb_matryoshka" -> OracleSql.embMatryoshka(dims = Seq(8, 16, 32, 64),
      nQueries = 5, k = 10),
    "retrieval_prf" -> OracleSql.retrievalPrf(nQueries = 5, nTerms = 3,
      nFb = 3, nExp = 2, kOut = 10, k1 = 1.2, b = 0.75),
    "retrieval_prf_indexed" -> OracleSql.retrievalPrf(nQueries = 5, nTerms = 3,
      nFb = 3, nExp = 2, kOut = 10, k1 = 1.2, b = 0.75),
    "sim_binary" -> OracleSql.simBinary(nQueries = 5, k = 10, rerankN = 30),
    "sim_binary_indexed" -> OracleSql.simBinary(nQueries = 5, k = 10,
      rerankN = 30),
    "sim_ivfbin" -> OracleSql.simIvfBinary(nCells = 16, nQueries = 5,
      nProbe = 2, k = 10, rerankN = 30),
    "sim_binary_recall" -> OracleSql.simBinaryRecall(nQueries = 5, k = 10,
      rerankN = 30),
    "sim_recall_curve" -> OracleSql.simRecallCurve(nCells = 16, nQueries = 5,
      probeLevels = Seq(1, 2, 4, 8), k = 10),
    "sim_ivf_fitted" -> OracleSql.simIvfFitted(k = 10, lloydSteps = 3,
      tol = 0.01, nQueries = 5, nProbe = 3, kOut = 10),
    "doc_epochs" -> OracleSql.docEpochs(budget = 15000L, maxEpochs = 4),
    "text_gopher_gate" -> OracleSql.textGopherGate(minTokens = 20,
      maxTokens = 1000, minMeanLen = 3, maxMeanLen = 10, minStops = 2,
      minDistinctPpm = 300000L, maxTopPpm = 200000L, maxRep2Ppm = 100000L),
    "doc_mix_temperature" -> OracleSql.docMixTemperature(budget = 100000L),
    "dedup_winnow" -> OracleSql.dedupWinnow(k = 4, w = 5, minShared = 2),
    "doc_chunks" -> OracleSql.docChunks(chunkToks = 64, stride = 48),
    "text_zipf" -> OracleSql.textZipf(topN = 100),
    "corpus_datasheet" -> OracleSql.corpusDatasheet(minTokens = 5,
      maxTokens = 5000),
    "doc_curriculum" -> OracleSql.docCurriculum(phases = 4),
    "sim_kcenter" -> OracleSql.simKcenter(k = 6),
    "sim_ivf_indexed" -> OracleSql.simIvf(nCells = 16, nQueries = 5, nProbe = 2, k = 10),
    "sim_ivf_delta" -> OracleSql.simIvfDelta(nCells = 16, nQueries = 5,
      nProbe = 2, k = 10, deltaMod = 10, deltaRem = 7),
    "emb_normalize" -> OracleSql.embNormalize(qDims = 4),
    "sim_lsh" -> OracleSql.simLsh(nQueries = 5, bits = 8, tables = 4, dim = 64, k = 10),
    "sim_range" -> OracleSql.simRange(nCells = 16, nQueries = 5, nProbe = 2,
      minCosE6 = 250000L),
    "sim_range_indexed" -> OracleSql.simRange(nCells = 16, nQueries = 5,
      nProbe = 2, minCosE6 = 250000L),
    "emb_pq" -> OracleSql.embPq(m = 8, k = 16, dim = 64),
    "pipeline_cluster_stats" -> OracleSql.pipelineClusterStats(nCells = 16),
    "sim_pq_adc" -> OracleSql.simPqAdc(m = 8, k = 16, dim = 64, nQueries = 5, kNbrs = 10),
    "sim_ivfpq" -> OracleSql.simIvfPq(nCells = 16, nProbe = 2, m = 8, k = 16,
      dim = 64, nQueries = 5, kNbrs = 10),
    "sim_ivfpq_indexed" -> OracleSql.simIvfPq(nCells = 16, nProbe = 2, m = 8,
      k = 16, dim = 64, nQueries = 5, kNbrs = 10),
    "sim_pq_rerank" -> OracleSql.simPqRerank(m = 8, k = 16, dim = 64,
      nQueries = 5, shortlist = 50, kNbrs = 10),
    "text_stats" -> OracleSql.textStats,
    "text_langid" -> OracleSql.textLangId,
    "text_readability" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(list_filter(list_transform(
        |      string_split_regex(text, '[.!?]+'), s -> trim(s)),
        |      s -> length(s) > 0)), 1) AS BIGINT) AS n_sentences,
        |    CAST(length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g'))
        |      - length(replace(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g'),
        |          'V', '')) AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(round((206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / greatest(n_words, 1)))
        |    * 100) AS BIGINT) AS flesch_e2
        |FROM b""".stripMargin,
    "text_langid_agree" ->
      s"""SELECT w.guess AS guess_word, c.guess AS guess_char,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM (${OracleSql.textLangId}) w
         |JOIN (${OracleSql.textLangIdNgram}) c ON w.doc_id = c.doc_id
         |GROUP BY 1, 2""".stripMargin,
    "text_langid_ngram" -> OracleSql.textLangIdNgram,
    "text_cms" -> OracleSql.textCms(w = 1024, d = 4),
    "text_heavy_hitters" -> OracleSql.textHeavyHitters(w = 1024, d = 4, den = 64),
    "text_quality" -> OracleSql.textQuality(minTokens = 5, maxTokens = 5000),
    "text_fingerprint" -> OracleSql.textFingerprint,
    "text_chunk" -> OracleSql.textChunk(chunkSize = 32, stride = 24),
    "text_topk_tokens" -> OracleSql.textTopkTokens(k = 50),
    "doc_sample" -> OracleSql.docSample(num = 1, den = 5),
    "text_novelty" -> OracleSql.textNovelty(n = 3),
    "text_sentences" -> OracleSql.textSentences,
    "doc_balance" -> OracleSql.docBalance,
    "doc_quality_gate" -> OracleSql.docQualityGate,
    "q_star_join" ->
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q_lorenz" ->
      """WITH cust AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spend
        |  FROM orders GROUP BY o_custkey),
        |dec AS (SELECT CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey)
        |    AS BIGINT) AS decile, spend FROM cust),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |    CAST(sum(spend) AS BIGINT) AS spend_cents FROM dec GROUP BY decile),
        |c AS (SELECT decile, n_cust, spend_cents,
        |    CAST(sum(spend_cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents,
        |    CAST(sum(spend_cents) OVER () AS BIGINT) AS total FROM g)
        |SELECT decile, n_cust, spend_cents, cum_cents,
        |  CAST(cum_cents * 1000000 // total AS BIGINT) AS cum_ppm
        |FROM c""".stripMargin,
    "q_rfm" ->
      """WITH cust AS (SELECT o_custkey,
        |    max(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spend_cents
        |  FROM orders GROUP BY o_custkey),
        |s AS (SELECT o_custkey, last_day, n_orders, spend_cents,
        |    CAST(ntile(5) OVER (ORDER BY last_day, o_custkey) AS BIGINT) AS r,
        |    CAST(ntile(5) OVER (ORDER BY n_orders, o_custkey) AS BIGINT) AS f,
        |    CAST(ntile(5) OVER (ORDER BY spend_cents, o_custkey) AS BIGINT) AS m
        |  FROM cust)
        |SELECT o_custkey, last_day, n_orders, spend_cents, r, f, m,
        |  r*100 + f*10 + m AS rfm FROM s""".stripMargin,
    "q_ivm" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_histogram" ->
      """WITH t AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS cents FROM lineitem)
        |SELECT cents // 500000 AS bin, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY 1""".stripMargin,
    "doc_pack" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tok,
        |  CAST((cum - n_tok) // 256 AS BIGINT) AS batch_id FROM c""".stripMargin,
    "doc_mix" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (SELECT source,
        |    CAST(400*(1 + CAST(substr(source, 4) AS BIGINT) % 3) AS BIGINT)
        |      AS budget
        |  FROM (SELECT DISTINCT source FROM documents)),
        |c AS (SELECT t.doc_id, t.source, t.n_tok, b.budget,
        |    sum(t.n_tok) OVER (PARTITION BY t.source ORDER BY t.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t JOIN b ON t.source = b.source)
        |SELECT doc_id, source, n_tok, CAST(cum AS BIGINT) AS cum
        |FROM c WHERE cum - n_tok < budget""".stripMargin,
    "text_tfidf" -> OracleSql.textTfidf(k = 3),
    "text_bm25" -> OracleSql.textBm25(nTerms = 3, k = 10, k1 = 1.2, b = 0.75),
    "text_tfidf_indexed" -> OracleSql.textTfidf(k = 3),
    "text_bm25_indexed" -> OracleSql.textBm25(nTerms = 3, k = 10,
      k1 = 1.2, b = 0.75),
    "text_repetition" -> OracleSql.textRepetition,
    "text_tokens_bpe" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "text_fertility" ->
      """WITH c AS (SELECT doc_id, lang, source, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(ws) AS BIGINT) AS ws_toks,
        |  CAST(sum(bpe) AS BIGINT) AS bpe_toks,
        |  CAST(sum(bpe) * 1000000 // greatest(sum(ws), 1) AS BIGINT)
        |    AS fertility_ppm,
        |  CAST(sum(n_chars) * 100 // greatest(sum(bpe), 1) AS BIGINT)
        |    AS chars_per_tok_x100
        |FROM c GROUP BY 1, 2""".stripMargin,
    "doc_span_corruption" -> OracleSql.textSpanCorruption(ratePct = 15,
      spanLen = 3),
    "text_source_chi2" -> OracleSql.textSourceChi2,
    "text_domains" ->
      """WITH aug AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    'https://w' || CAST(doc_id % 3 AS VARCHAR) || '.' || source
        |      || '.example.'
        |      || CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END
        |      || '/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |h AS (SELECT doc_id, n_tok,
        |    regexp_extract(url, '://([A-Za-z0-9.-]+)', 1) AS host FROM aug),
        |d AS (SELECT doc_id, n_tok,
        |    regexp_extract(host, '([A-Za-z0-9-]+\.[A-Za-z0-9-]+\.[A-Za-z]+)$', 1)
        |      AS domain FROM h)
        |SELECT domain, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok
        |FROM d GROUP BY 1""".stripMargin,
    "text_url_filter" ->
      """WITH aug AS (SELECT doc_id,
        |    'https://w' || CAST(doc_id % 3 AS VARCHAR) || '.' || source
        |      || '.example.'
        |      || CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END
        |      || '/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |    regexp_extract(url, '://([A-Za-z0-9.-]+)', 1) AS host FROM aug),
        |d AS (SELECT doc_id, url, host,
        |    regexp_extract(host, '([A-Za-z0-9-]+\.[A-Za-z0-9-]+\.[A-Za-z]+)$', 1)
        |      AS domain FROM p)
        |SELECT domain, doc_id, url, host FROM d
        |WHERE domain NOT IN ('src1.example.com', 'src1.example.org')""".stripMargin,
    "text_boilerplate" -> OracleSql.textBoilerplate(maxDf = 10),
    "dedup_paragraph" -> OracleSql.dedupParagraph,
    "dedup_cdc" -> OracleSql.dedupCdc(mod = 8),
    "text_unigram_lm" -> OracleSql.textUnigramLm,
    "text_code_detect" ->
      """WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, '{', '')) AS BIGINT)
        |      + CAST(length(text) - length(replace(text, '}', '')) AS BIGINT) AS braces,
        |    CAST(length(text) - length(replace(text, ';', '')) AS BIGINT) AS semis,
        |    CAST(length(text) - length(replace(text, '=', '')) AS BIGINT) AS eqs,
        |    CAST(length(text) - length(replace(text, '(', '')) AS BIGINT)
        |      + CAST(length(text) - length(replace(text, ')', '')) AS BIGINT) AS parens,
        |    CAST(length(text) - length(replace(text, '_', '')) AS BIGINT) AS unders
        |  FROM documents)
        |SELECT doc_id, n_chars, braces, semis,
        |  CAST(((braces*3 + semis*2 + eqs + parens + unders) * 1000)
        |    // greatest(n_chars, 1) AS BIGINT) AS code_pm,
        |  ((braces*3 + semis*2 + eqs + parens + unders) * 1000)
        |    // greatest(n_chars, 1) >= 15 AS is_code
        |FROM d""".stripMargin,
    "text_vocab_curve" ->
      """WITH counts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |  GROUP BY token),
        |dec AS (SELECT CAST(ntile(10) OVER (ORDER BY cnt DESC, token) AS BIGINT)
        |    AS decile, cnt FROM counts),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(cnt) AS BIGINT) AS mass FROM dec GROUP BY decile),
        |c AS (SELECT decile, n_types, mass,
        |    CAST(sum(mass) OVER (ORDER BY decile) AS BIGINT) AS cum_mass,
        |    CAST(sum(mass) OVER () AS BIGINT) AS total FROM g)
        |SELECT decile, n_types, mass, cum_mass,
        |  CAST(cum_mass * 1000000 // total AS BIGINT) AS cum_ppm
        |FROM c""".stripMargin,
    "doc_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |v AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |lm AS (SELECT doc_id,
        |    CAST(round(1e6 * sum(length(printf('%b', cnt))) / count(*)) AS BIGINT)
        |      AS avg_bits_e6
        |  FROM tok JOIN v USING (token) GROUP BY doc_id),
        |b AS (SELECT doc_id, avg_bits_e6,
        |    CAST(ntile(3) OVER (ORDER BY avg_bits_e6 DESC, doc_id) AS BIGINT)
        |      AS bucket
        |  FROM lm)
        |SELECT doc_id, avg_bits_e6, bucket,
        |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |       ELSE 'tail' END AS tier
        |FROM b""".stripMargin,
    "doc_dsir" -> OracleSql.docDsir,
    "text_bpe_train" -> OracleSql.textBpeTrain(nMerges = 5),
    "text_bigram_lm" -> OracleSql.textBigramLm,
    // Kneser-Ney in integer quarters/ppm: both floor divisions (`//`)
    // mirror Spark's `div` term for term, applied in the same order
    "text_kn_lm" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |ex AS (SELECT tk,
        |    unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS pos
        |  FROM t),
        |bg AS (SELECT tk[pos] AS w1, tk[pos + 1] AS w2 FROM ex),
        |bgc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS nb
        |  FROM bg GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(sum(nb) AS BIGINT) AS cw,
        |    CAST(count(*) AS BIGINT) AS n1c FROM bgc GROUP BY w1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont
        |  FROM bgc GROUP BY w2),
        |ty AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM bgc)
        |SELECT w1, w2, nb,
        |  CAST(((4*nb - 3) * 1000000) // (4*cw)
        |    + (3 * n1c * ncont * 1000000) // (4 * cw * t_types) AS BIGINT)
        |    AS pkn_ppm
        |FROM bgc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN ty
        |ORDER BY nb DESC, w1, w2 LIMIT 50""".stripMargin,
    "text_bpe_pairs" ->
      """WITH w AS (SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word),
        |s AS (SELECT freq, string_split(word, '') AS sy FROM w),
        |ix AS (SELECT freq, sy, unnest(range(1, len(sy))) AS i FROM s),
        |p AS (SELECT sy[i] AS lft, sy[i+1] AS rgt, freq FROM ix)
        |SELECT lft, rgt, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, lft, rgt LIMIT 20""".stripMargin,
    "doc_batch" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (SELECT doc_id, n_tok,
        |    CAST(length(printf('%b', n_tok)) AS BIGINT) AS bucket FROM t),
        |r AS (SELECT bucket, n_tok,
        |    row_number() OVER (PARTITION BY bucket ORDER BY n_tok, doc_id)
        |      AS rnk FROM b),
        |g AS (SELECT bucket, (rnk - 1) // 8 AS batch_ix, count(*) AS n_docs,
        |    max(n_tok) AS max_tok, sum(n_tok) AS sum_tok
        |  FROM r GROUP BY 1, 2)
        |SELECT bucket, CAST(batch_ix AS BIGINT) AS batch_ix,
        |  CAST(n_docs AS BIGINT) AS n_docs, CAST(max_tok AS BIGINT) AS max_tok,
        |  CAST(sum_tok AS BIGINT) AS sum_tok,
        |  CAST(CASE WHEN max_tok = 0 THEN 0
        |    ELSE (n_docs * max_tok - sum_tok) * 1000000 // (n_docs * max_tok)
        |    END AS BIGINT) AS pad_ppm
        |FROM g""".stripMargin,
    "doc_shard" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |    row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rnk FROM t)
        |SELECT doc_id, n_tok, CAST((rnk - 1) % 8 AS BIGINT) AS shard
        |FROM r""".stripMargin,
    "q_corr" -> OracleSql.qCorr,
    "q_entropy" -> Seq("o_orderstatus", "o_orderpriority", "o_custkey").map { c =>
      s"""SELECT '$c' AS col_name, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(sum(cnt * (length(printf('%b', (SELECT count(*) FROM orders)))
         |       - length(printf('%b', cnt)))) AS BIGINT) AS surprise_bits
         |FROM (SELECT CAST($c AS VARCHAR) AS v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM orders GROUP BY 1) t""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "q_expectations" -> OracleSql.qExpectations,
    "q_fk_integrity" -> Seq(
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .map { case (rel, child, fk, parent, pk) =>
        s"""SELECT '$rel' AS rel,
           |  CAST(count(*) AS BIGINT) AS child_rows,
           |  CAST(sum(CASE WHEN c.$fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS null_fk,
           |  CAST(sum(CASE WHEN c.$fk IS NOT NULL AND p.$pk IS NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
           |  CAST(count(DISTINCT CASE WHEN c.$fk IS NOT NULL AND p.$pk IS NULL
           |    THEN c.$fk END) AS BIGINT) AS orphan_keys
           |FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
           |  ON c.$fk = p.$pk""".stripMargin
      }.mkString("\nUNION ALL\n"),
    "q_drift" -> OracleSql.qDrift,
    "q_profile" -> OracleSql.qProfile("lineitem", Seq(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate")),
    "dedup_decontaminate" -> OracleSql.dedupDecontaminate(n = 3, thrNum = 1, thrDen = 10),
    "events_sessionize" -> OracleSql.eventsSessionize(gapMinutes = 30),
    "events_session_stats" ->
      s"""WITH sess AS (SELECT * FROM (${OracleSql.eventsSessionize(gapMinutes = 30)}) t),
         |u AS (SELECT 'dur_us' AS metric, dur_us AS value FROM sess
         |  UNION ALL SELECT 'n_events', n_events FROM sess)
         |SELECT metric, count(*) AS cnt,
         |  quantile_cont(value, 0.25) AS p25,
         |  quantile_cont(value, 0.50) AS p50,
         |  quantile_cont(value, 0.90) AS p90
         |FROM u GROUP BY metric""".stripMargin,
    "events_attribution" -> OracleSql.eventsAttribution(
      clickType = "click", purchaseType = "purchase", windowHours = 24),
    "events_attribution_position" -> OracleSql.eventsAttributionPosition(
      clickType = "click", purchaseType = "purchase", windowHours = 24),
    "text_bpe_apply" -> OracleSql.textBpeApply(nMerges = 5),
    "q_observe" -> OracleSql.qObserve,
    "q_hll" -> OracleSql.qHll(p = 8),
    "q_kmv_overlap" -> OracleSql.qKmvOverlap(k = 128),
    "doc_sample_pps" -> OracleSql.docSamplePps(nTarget = 50),
    "dedup_fuzzy" -> OracleSql.dedupFuzzy(maxDist = 5, lenBand = 4),
    "doc_pareto" -> OracleSql.docPareto,
    "q_bloom_sketch" -> OracleSql.qBloomSketch(mBits = 1024, k = 3),
    "q_bloom_index" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (7, 11, 23)""".stripMargin,
    "q_badrecords" ->
      """SELECT CASE WHEN doc_id % 7 = 0 THEN '_corrupt' ELSE lang END AS lang,
        |  count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    "doc_dup_by_source" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
        |  ((count(*) - count(DISTINCT text)) * 1000000) // count(*) AS dup_ppm
        |FROM documents GROUP BY 1""".stripMargin,
    "q_hll_persisted" -> OracleSql.qHllLake(p = 8),
    "events_hll_users" -> OracleSql.eventsHllUsers(p = 4),
    "events_ab_test" -> OracleSql.eventsAbTest(goal = "purchase", baseline = "view"),
    "events_did" -> OracleSql.eventsDid,
    "events_ewma" -> OracleSql.eventsEwma,
    "events_power" -> OracleSql.eventsPower(goal = "purchase",
      baseline = "view", mdePcts = Seq(5, 10, 20, 50)),
    "events_cuped" -> OracleSql.eventsCuped,
    "events_heatmap" ->
      """SELECT (epoch_us(ts) // 86400000000) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hour,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_cusum" ->
      """WITH d AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |p AS (SELECT (day_us // 86400000000) % 7 AS dow,
        |    CAST(sum(cents) // count(*) AS BIGINT) AS dow_mean_cents
        |  FROM d GROUP BY 1),
        |r AS (SELECT d.day_us, CAST(d.cents - p.dow_mean_cents AS BIGINT) AS resid
        |  FROM d JOIN p ON (d.day_us // 86400000000) % 7 = p.dow),
        |c1 AS (SELECT day_us, resid,
        |    sum(resid) OVER (ORDER BY day_us) AS pp,
        |    sum(-resid) OVER (ORDER BY day_us) AS qq,
        |    (sum(abs(resid)) OVER () * 4) // count(*) OVER () AS h
        |  FROM r),
        |c AS (SELECT day_us, resid, pp, qq, h,
        |    min(pp) OVER (ORDER BY day_us) AS mp,
        |    min(qq) OVER (ORDER BY day_us) AS mq
        |  FROM c1)
        |SELECT day_us, resid,
        |  CAST(pp - least(mp, 0) AS BIGINT) AS cusum_pos,
        |  CAST(qq - least(mq, 0) AS BIGINT) AS cusum_neg,
        |  CAST(h AS BIGINT) AS h_cents,
        |  (pp - least(mp, 0) > h OR qq - least(mq, 0) > h) AS alarm
        |FROM c""".stripMargin,
    "events_seasonality" ->
      """WITH d AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |p AS (SELECT (day_us // 86400000000) % 7 AS dow,
        |    CAST(sum(cents) // count(*) AS BIGINT) AS dow_mean_cents
        |  FROM d GROUP BY 1)
        |SELECT d.day_us, CAST(p.dow AS BIGINT) AS dow, d.cents, p.dow_mean_cents,
        |  CAST(d.cents - p.dow_mean_cents AS BIGINT) AS resid_cents
        |FROM d JOIN p ON (d.day_us // 86400000000) % 7 = p.dow""".stripMargin,
    "events_forecast_naive" ->
      """WITH d AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |f AS (SELECT day_us, cents,
        |    lag(cents, 7) OVER (ORDER BY day_us) AS forecast FROM d)
        |SELECT day_us, cents, forecast, abs(cents - forecast) AS abs_err,
        |  CAST(CASE WHEN cents <> 0
        |       THEN (abs(cents - forecast) * 1000000) // cents END AS BIGINT) AS ape_ppm
        |FROM f WHERE forecast IS NOT NULL""".stripMargin,
    "text_oov" -> OracleSql.textOov(vocabSize = 200),
    "doc_len_deciles" -> OracleSql.docLenDeciles,
    "events_window" -> OracleSql.eventsWindow,
    "events_sliding" -> OracleSql.eventsSliding,
    "events_ohlc" -> OracleSql.eventsOhlc,
    "events_gap_fill" -> OracleSql.eventsGapFill,
    "events_features" -> OracleSql.eventsFeatures,
    "events_anomaly" -> OracleSql.eventsAnomaly(
      lookback = 50, minHistory = 10, thrE6 = 3000000L),
    "events_anomaly_mad" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(round(median(cents)*2) AS BIGINT) AS med2 FROM e GROUP BY 1),
        |d AS (SELECT e.event_id, e.user_id, e.cents, m.n, m.med2,
        |    abs(e.cents*2 - m.med2) AS dev2 FROM e JOIN m USING (user_id)),
        |md AS (SELECT user_id, CAST(round(median(dev2)*2) AS BIGINT) AS mad4
        |  FROM d GROUP BY 1)
        |SELECT d.event_id, d.user_id, d.cents, d.med2, md.mad4,
        |  CAST(d.dev2 AS BIGINT) AS dev2
        |FROM d JOIN md USING (user_id)
        |WHERE d.n >= 10 AND md.mad4 > 0 AND d.dev2*2 >= 3*md.mad4""".stripMargin,
    "events_active_users" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_us,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "events_stickiness" -> OracleSql.eventsStickiness,
    "events_new_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id)
        |SELECT ud.day,
        |  CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(sum(CASE WHEN ud.day <> f.first_day THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_returning,
        |  CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS new_ppm
        |FROM ud JOIN f ON ud.user_id = f.user_id
        |GROUP BY ud.day""".stripMargin,
    "events_session_window" -> OracleSql.eventsSessionWindow(gapMinutes = 30),
    "events_json" -> OracleSql.eventsJson,
    "events_asof" -> OracleSql.eventsAsof(leftType = "click", rightType = "purchase"),
    "events_asof_tol" -> OracleSql.eventsAsofTolerance(leftType = "click",
      rightType = "purchase", tolMinutes = 60),
    "events_asof_fwd" -> OracleSql.eventsAsofForward(leftType = "click",
      rightType = "purchase"),
    "events_concurrency" -> OracleSql.eventsConcurrency(gapMinutes = 30),
    "events_twap" -> OracleSql.eventsTwap,
    "events_mwu" -> OracleSql.eventsMannWhitney(armA = "click", armB = "view"),
    "events_survival" -> OracleSql.eventsSurvival(censorDays = 7),
    "events_trend" -> OracleSql.eventsTrend(minDays = 5),
    "events_autocorr" -> OracleSql.eventsAutocorr(revenueType = "purchase",
      maxLag = 7),
    "events_rolling_wau" -> OracleSql.eventsRollingWau(windowDays = 7),
    "events_bot_detect" -> OracleSql.eventsBotDetect(minEvents = 20,
      fastGapUs = 1000000L, maxPerHourX100 = 120000L),
    "events_asof_native" -> OracleSql.eventsAsof(leftType = "click", rightType = "purchase"),
    "events_asof_bcast" -> OracleSql.eventsAsof(leftType = "click", rightType = "purchase"),
    "events_funnel" -> OracleSql.eventsFunnel(
      stages = Seq("view", "click", "purchase"), windowHours = 24),
    "events_funnel_latency" -> OracleSql.eventsFunnelLatency(
      stages = Seq("view", "click", "purchase"), windowHours = 24),
    "events_funnel_sweep" -> OracleSql.eventsFunnelSweep(
      stages = Seq("view", "click", "purchase"), windows = Seq(1, 6, 24)),
    "events_retention" -> OracleSql.eventsRetention(cohortType = "signup", maxOffset = 3),
    "events_cohort_ltv" -> OracleSql.eventsCohortLtv(cohortType = "signup",
      revenueType = "purchase", maxOffset = 3),
    "events_paths" -> OracleSql.eventsPaths(n = 3, k = 20, gapMinutes = 30),
    "events_transitions" -> OracleSql.eventsTransitions(gapMinutes = 30),
    "events_attribution_markov" -> OracleSql.eventsAttributionMarkov(
      conv = "purchase", gapMinutes = 30, iters = 20),
    "events_attribution_shapley" -> OracleSql.eventsAttributionShapley(
      channels = Seq("click", "error", "signup", "view")),
    "events_bootstrap" -> OracleSql.eventsBootstrapCi(),
    "pipeline_select" -> OracleSql.pipelineSelect(minTokens = 25, maxTokens = 5000),
    "pipeline_clean" -> OracleSql.pipelineClean(minTokens = 25, maxTokens = 5000,
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2),
    "pipeline_corpus" -> OracleSql.pipelineCorpus(minTokens = 25, maxTokens = 5000,
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2, budget = 256),
    "pipeline_pretrain" -> OracleSql.pipelinePretrain(minTokens = 25, maxTokens = 5000,
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2, packBudget = 256),
    "pipeline_full" -> OracleSql.pipelineFull(minTokens = 25, maxTokens = 5000,
      n = 3, numHashes = 16, bands = 4, thrNum = 1, thrDen = 2,
      dN = 3, dThrNum = 1, dThrDen = 10, packBudget = 256),
    "pipeline_provenance" -> OracleSql.pipelineProvenance(minTokens = 25,
      maxTokens = 5000, n = 3, numHashes = 16, bands = 4, thrNum = 1,
      thrDen = 2, dN = 3, dThrNum = 1, dThrDen = 10),
    "doc_interleave" ->
      """SELECT doc_id, source,
        |  ((doc_id % 2147483647)*1103515245 + 12345) % 2147483647 AS shuf,
        |  CAST(row_number() OVER (
        |    ORDER BY ((doc_id % 2147483647)*1103515245 + 12345) % 2147483647,
        |      doc_id) AS BIGINT)
        |    AS pos
        |FROM documents""".stripMargin,
    "q_global_sort" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(round(l_extendedprice*100.0) AS BIGINT) AS price_cents,
        |  CAST(row_number() OVER (
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT)
        |    AS rnk
        |FROM lineitem""".stripMargin,

    "q_window" ->
      """WITH t AS (SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice*100.0) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_custkey, cents,
        |  lag(cents, 1) OVER w AS prev_cents,
        |  lead(cents, 1) OVER w AS next_cents,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
        |FROM t
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin,
    "q_window2" ->
      """WITH t AS (SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice*100.0) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(first_value(cents) OVER w AS BIGINT) AS first_cents,
        |  CAST(last_value(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT)
        |    AS last_cents
        |FROM t
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin,

    "q_distinct" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  count(DISTINCT o_custkey) AS n_buyers, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,
    "q_quantiles" ->
      """WITH c AS (SELECT l_returnflag, CAST(round(l_extendedprice*100.0) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS cnt,
        |  quantile_cont(cents, 0.25)/100.0 AS p25,
        |  quantile_cont(cents, 0.50)/100.0 AS p50,
        |  quantile_cont(cents, 0.75)/100.0 AS p75
        |FROM c GROUP BY l_returnflag""".stripMargin,

    "q_tukey_fences" ->
      """WITH c AS (SELECT l_returnflag AS g, CAST(round(l_extendedprice*100.0) AS BIGINT) AS v
        |  FROM lineitem),
        |q AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(round(quantile_cont(v, 0.25)*8) AS BIGINT) AS q1_x8,
        |    CAST(round(quantile_cont(v, 0.75)*8) AS BIGINT) AS q3_x8
        |  FROM c GROUP BY g),
        |f AS (SELECT g, n, q1_x8, q3_x8,
        |    q1_x8 - (3*(q3_x8 - q1_x8)) // 2 AS lo_x8,
        |    q3_x8 + (3*(q3_x8 - q1_x8)) // 2 AS hi_x8
        |  FROM q)
        |SELECT c.g AS l_returnflag, f.n, f.q1_x8, f.q3_x8, f.lo_x8, f.hi_x8,
        |  CAST(sum(CASE WHEN v*8 < lo_x8 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN v*8 > hi_x8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(greatest(lo_x8, least(v*8, hi_x8))) AS BIGINT) AS win_sum_x8
        |FROM c JOIN f USING (g)
        |GROUP BY c.g, f.n, f.q1_x8, f.q3_x8, f.lo_x8, f.hi_x8""".stripMargin,

    "q_salted_join" ->
      """WITH c AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_returnflag, CAST(round(l_extendedprice*100.0) AS BIGINT) AS cents
        |  FROM lineitem),
        |g AS (SELECT l_returnflag, sum(cents) AS gcents FROM c GROUP BY l_returnflag)
        |SELECT c.l_orderkey, c.l_linenumber, c.l_returnflag,
        |  CAST(round(1e6*cents/gcents) AS BIGINT) AS share_e6
        |FROM c JOIN g USING (l_returnflag)""".stripMargin,

    "q_setops" ->
      """WITH a AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0),
        |b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT 'union' AS op, o_custkey
        |  FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b) t
        |UNION ALL SELECT 'intersect' AS op, o_custkey
        |  FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b) t
        |UNION ALL SELECT 'except' AS op, o_custkey
        |  FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b) t""".stripMargin,
    "q_setops_all" ->
      """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT 'union_all' AS op, count(*) AS n_rows
        |  FROM (SELECT * FROM a UNION ALL SELECT * FROM b) t
        |UNION ALL SELECT 'intersect_all', count(*)
        |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) t
        |UNION ALL SELECT 'except_all', count(*)
        |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) t
        |UNION ALL SELECT 'except_all_rev', count(*)
        |  FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a) t""".stripMargin,
    "q_rolling_range" ->
      """WITH t AS (SELECT o_orderkey, o_custkey,
        |    epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(round(o_totalprice*100.0) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_custkey, day,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cents_7d,
        |  CAST(count(*) OVER w AS BIGINT) AS n_7d
        |FROM t WINDOW w AS (PARTITION BY o_custkey ORDER BY day
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_moments" ->
      """WITH u AS (SELECT event_type, CAST(round(value) AS BIGINT) AS u,
        |    CAST(round(value) AS HUGEINT) AS hu FROM events),
        |g AS (SELECT event_type, count(*) AS n, CAST(sum(u) AS BIGINT) AS s1,
        |    sum(hu*hu) AS s2, sum(hu*hu*hu) AS s3, sum(hu*hu*hu*hu) AS s4
        |  FROM u GROUP BY event_type),
        |d AS (SELECT event_type, n, s1,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
        |  FROM g),
        |c AS (SELECT event_type, n, s1, e2 - m*m AS v,
        |    e3 - 3.0*m*e2 + 2.0*m*m*m AS m3,
        |    e4 - 4.0*m*e3 + 6.0*m*m*e2 - 3.0*m*m*m*m AS m4
        |  FROM d)
        |SELECT event_type, CAST(n AS BIGINT) AS n, s1,
        |  CASE WHEN v > 0
        |    THEN CAST(round(m3 / sqrt(v*v*v) * 1e6) AS BIGINT) END AS skew_e6,
        |  CASE WHEN v > 0
        |    THEN CAST(round((m4 / (v*v) - 3.0) * 1e6) AS BIGINT) END AS kurt_e6
        |FROM c""".stripMargin,

    "q_tsv_dsv2" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  count(DISTINCT o_custkey) AS n_buyers, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "q_csv_roundtrip" ->
      """SELECT doc_id, lang,
        |  CAST(length('a,"b" ' || text) AS BIGINT) AS len
        |FROM documents""".stripMargin,
    "q_tsv_roundtrip" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  count(DISTINCT o_custkey) AS n_buyers, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,

    "q_bucketed_join" ->
      """SELECT o.o_orderkey, count(*) AS n_items,
        |  CAST(sum(CAST(round(l.l_extendedprice*100.0) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderkey""".stripMargin,

    "text_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact ' || source || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com tel +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 end' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS n_phones,
        |  len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted
        |FROM aug""".stripMargin,

    "q_partition_prune" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(value*1000.0) AS BIGINT)) AS BIGINT) AS value_mils
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1, 2""".stripMargin,

    "q_dsv2_numbers" ->
      """WITH n AS (SELECT unnest(generate_series(20000, 79999)) AS i)
        |SELECT i % 7 AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(i) AS BIGINT) AS s, max(printf('%x', i)) AS max_hex
        |FROM n GROUP BY 1""".stripMargin,

    "q_jsonl_roundtrip" ->
      "SELECT doc_id, lang, source, n_chars, text FROM documents",

    "q_orc_roundtrip" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",

    "q_compact" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",

    // the partition-level replace: touched langs carry the re-ingested
    // payload, untouched langs keep every original row — a STATIC-mode
    // wipe or a lost partition fails this census on rows, not just sums
    "q_dpo" ->
      """WITH fin AS (
        |  SELECT doc_id, lang, n_chars + 1000000 AS n_chars
        |  FROM documents WHERE lang IN ('en', 'de')
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars
        |  FROM documents WHERE lang NOT IN ('en', 'de'))
        |SELECT lang, count(*)::BIGINT AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
        |FROM fin GROUP BY lang""".stripMargin,

    "q_schema_evolve" ->
      """SELECT doc_id, lang, CAST(NULL AS BIGINT) AS quality, CAST(1 AS BIGINT) AS gen
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars % 100 AS quality, CAST(2 AS BIGINT) AS gen
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin,

    "q_upsert" ->
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS gen FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'xx' AS lang, n_chars, CAST(2 AS BIGINT) AS gen
        |  FROM documents WHERE doc_id % 10 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY gen DESC)
        |    AS rn FROM u)
        |SELECT doc_id, lang, n_chars, gen FROM r WHERE rn = 1""".stripMargin,

    "q_zorder" -> {
      // Σ_b ((x>>b)&1)·4^b + ((y>>b)&1)·2·4^b — the same interleave
      val terms = (0 until 10).map { b =>
        s"(((l_partkey % 1024) >> $b) & 1) * ${1L << (2 * b)} + " +
          s"(((l_suppkey % 1024) >> $b) & 1) * ${1L << (2 * b + 1)}"
      }.mkString(" + ")
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  CAST($terms AS BIGINT) AS z
         |FROM lineitem""".stripMargin
    },
    // the same interleave, then plain SQL ntile(64) per layout (globalNtile
    // == ntile by construction), zone-map min/max per file, overlap rule
    // per (file, predicate-box) — integer counts end to end
    "q_zorder_skip" -> {
      val zterms = (0 until 10).map { b =>
        s"((pk >> $b) & 1) * ${1L << (2 * b)} + ((sk >> $b) & 1) * ${1L << (2 * b + 1)}"
      }.mkString(" + ")
      val scanned = "mn_pk <= hi_pk AND mx_pk >= lo_pk AND mn_sk <= hi_sk AND mx_sk >= lo_sk"
      s"""WITH r AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |    l_partkey % 1024 AS pk, l_suppkey % 1024 AS sk FROM lineitem),
         |rz AS (SELECT *, CAST($zterms AS BIGINT) AS z FROM r),
         |fa AS (SELECT pk, sk, ntile(64) OVER (ORDER BY l_orderkey, l_linenumber) AS f FROM rz),
         |fb AS (SELECT pk, sk, ntile(64) OVER (ORDER BY pk, l_orderkey, l_linenumber) AS f FROM rz),
         |fc AS (SELECT pk, sk, ntile(64) OVER (ORDER BY z, l_orderkey, l_linenumber) AS f FROM rz),
         |st AS (
         |  SELECT 'linear' AS layout, f, min(pk) AS mn_pk, max(pk) AS mx_pk,
         |    min(sk) AS mn_sk, max(sk) AS mx_sk, count(*) AS n FROM fa GROUP BY f
         |  UNION ALL
         |  SELECT 'pk_sorted', f, min(pk), max(pk), min(sk), max(sk), count(*) FROM fb GROUP BY f
         |  UNION ALL
         |  SELECT 'zorder', f, min(pk), max(pk), min(sk), max(sk), count(*) FROM fc GROUP BY f),
         |pr(pred, lo_pk, hi_pk, lo_sk, hi_sk) AS (VALUES
         |  ('box_pk0-63_sk0-63', 0, 63, 0, 63),
         |  ('stripe_pk256-271', 256, 271, 0, 1023),
         |  ('stripe_sk32-47', 0, 1023, 32, 47))
         |SELECT layout, pred, CAST(count(*) AS BIGINT) AS files_total,
         |  CAST(sum(CASE WHEN $scanned THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         |  CAST(sum(CASE WHEN $scanned THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
         |FROM st CROSS JOIN pr GROUP BY layout, pred""".stripMargin
    },

    "q_fingerprint" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |b0 AS (SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 997 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus, cents FROM o),
        |fa AS (SELECT o_orderkey % 32 AS bucket, count(*) AS n_a,
        |    sum(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(
        |      o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' || cents,
        |      ''), c -> ascii(c))), (h,c) -> (h*131+c) % 1000000007)) AS fp_a
        |  FROM o GROUP BY 1),
        |fb AS (SELECT o_orderkey % 32 AS bucket, count(*) AS n_b,
        |    sum(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(
        |      o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' || cents,
        |      ''), c -> ascii(c))), (h,c) -> (h*131+c) % 1000000007)) AS fp_b
        |  FROM b0 GROUP BY 1)
        |SELECT fa.bucket, CAST(n_a AS BIGINT) AS n_a, CAST(fp_a AS BIGINT) AS fp_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(fp_b AS BIGINT) AS fp_b,
        |  CAST(CASE WHEN n_a <> n_b OR fp_a <> fp_b THEN 1 ELSE 0 END AS BIGINT)
        |    AS differs
        |FROM fa JOIN fb ON fa.bucket = fb.bucket""".stripMargin,
    "q_fingerprint_ivm" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |hv AS (SELECT o_orderkey % 32 AS bucket, o_orderkey,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(
        |      o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' || cents,
        |      ''), c -> ascii(c))), (h,c) -> (h*131+c) % 1000000007) AS h
        |  FROM o),
        |hn AS (SELECT o_orderkey % 32 AS bucket, o_orderkey,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(
        |      o_orderkey || '|' || o_custkey || '|' || 'X' || '|' || cents,
        |      ''), c -> ascii(c))), (h,c) -> (h*131+c) % 1000000007) AS h
        |  FROM o WHERE o_orderkey % 997 = 0),
        |base AS (SELECT bucket, count(*) AS n, sum(h) AS fp FROM hv GROUP BY 1),
        |delta AS (SELECT bucket, sum(sgn) AS dn, sum(h*sgn) AS dfp FROM (
        |    SELECT bucket, h, 1 AS sgn FROM hn
        |    UNION ALL
        |    SELECT bucket, h, -1 FROM hv WHERE o_orderkey % 997 = 0)
        |  GROUP BY 1),
        |inc AS (SELECT base.bucket,
        |    CAST(base.n + coalesce(delta.dn, 0) AS BIGINT) AS n_inc,
        |    CAST(base.fp + coalesce(delta.dfp, 0) AS BIGINT) AS fp_inc
        |  FROM base LEFT JOIN delta ON base.bucket = delta.bucket),
        |fullv AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_full,
        |    CAST(sum(h) AS BIGINT) AS fp_full FROM (
        |    SELECT bucket, h FROM hv WHERE o_orderkey % 997 <> 0
        |    UNION ALL SELECT bucket, h FROM hn)
        |  GROUP BY 1)
        |SELECT inc.bucket, n_inc, fp_inc, n_full, fp_full,
        |  CAST(CASE WHEN n_inc = n_full AND fp_inc = fp_full
        |    THEN 1 ELSE 0 END AS BIGINT) AS consistent
        |FROM inc JOIN fullv ON inc.bucket = fullv.bucket""".stripMargin,
    "q_snapshot" ->
      """WITH lg AS (
        |  SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS gen, 'U' AS op
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'xx' AS lang, n_chars, CAST(2 AS BIGINT), 'U'
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, CAST(3 AS BIGINT), 'D'
        |  FROM documents WHERE doc_id % 7 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY gen DESC, op ASC)
        |    AS rn FROM lg WHERE gen <= 3)
        |SELECT doc_id, lang, n_chars, gen FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin,

    "q_scd2" ->
      """WITH lg AS (
        |  SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS gen, 'U' AS op
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'xx' AS lang, n_chars, CAST(2 AS BIGINT), 'U'
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, CAST(3 AS BIGINT), 'D'
        |  FROM documents WHERE doc_id % 7 = 0),
        |v AS (SELECT doc_id, lang, n_chars, gen, op,
        |    lead(gen) OVER (PARTITION BY doc_id ORDER BY gen ASC, op DESC)
        |      AS next_gen
        |  FROM lg)
        |SELECT doc_id, lang, n_chars, gen AS valid_from, next_gen AS valid_to
        |FROM v WHERE op <> 'D'""".stripMargin,

    "q_merge" ->
      """WITH t AS (SELECT doc_id, lang, source, n_chars FROM documents),
        |ch AS (
        |  SELECT doc_id, 'xx' AS lang, source, n_chars + 1 AS n_chars, 'U' AS op
        |  FROM t WHERE doc_id % 10 = 0 AND doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, lang, source, n_chars, 'D' FROM t WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new', source, n_chars, 'U'
        |  FROM t WHERE doc_id % 25 = 0)
        |SELECT coalesce(t.doc_id, ch.doc_id) AS doc_id,
        |  CASE WHEN ch.op = 'U' THEN ch.lang ELSE t.lang END AS lang,
        |  CASE WHEN ch.op = 'U' THEN ch.source ELSE t.source END AS source,
        |  CASE WHEN ch.op = 'U' THEN ch.n_chars ELSE t.n_chars END AS n_chars
        |FROM t FULL OUTER JOIN ch ON t.doc_id = ch.doc_id
        |WHERE coalesce(ch.op, '') <> 'D'""".stripMargin,

    // q_merge's CTEs verbatim to rebuild the post-merge snapshot, then the
    // before/after FULL OUTER diff with IS DISTINCT FROM per data column —
    // the minimal CDC set that turns `t` into `a`
    "q_changefeed" ->
      """WITH t AS (SELECT doc_id, lang, source, n_chars FROM documents),
        |ch AS (
        |  SELECT doc_id, 'xx' AS lang, source, n_chars + 1 AS n_chars, 'U' AS op
        |  FROM t WHERE doc_id % 10 = 0 AND doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, lang, source, n_chars, 'D' FROM t WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new', source, n_chars, 'U'
        |  FROM t WHERE doc_id % 25 = 0),
        |a AS (SELECT coalesce(t.doc_id, ch.doc_id) AS doc_id,
        |  CASE WHEN ch.op = 'U' THEN ch.lang ELSE t.lang END AS lang,
        |  CASE WHEN ch.op = 'U' THEN ch.source ELSE t.source END AS source,
        |  CASE WHEN ch.op = 'U' THEN ch.n_chars ELSE t.n_chars END AS n_chars
        |FROM t FULL OUTER JOIN ch ON t.doc_id = ch.doc_id
        |WHERE coalesce(ch.op, '') <> 'D'),
        |f AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'I'
        |       WHEN a.doc_id IS NULL THEN 'D'
        |       WHEN (b.lang IS DISTINCT FROM a.lang)
        |         OR (b.source IS DISTINCT FROM a.source)
        |         OR (b.n_chars IS DISTINCT FROM a.n_chars) THEN 'U' END AS op,
        |  b.lang AS old_lang, b.source AS old_source, b.n_chars AS old_n_chars,
        |  a.lang AS new_lang, a.source AS new_source, a.n_chars AS new_n_chars
        |FROM t b FULL OUTER JOIN a ON b.doc_id = a.doc_id)
        |SELECT * FROM f WHERE op IS NOT NULL""".stripMargin,

    "q_log_compact" ->
      """WITH lg AS (
        |  SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT) AS gen, 'U' AS op
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'xx' AS lang, n_chars, CAST(2 AS BIGINT), 'U'
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, CAST(3 AS BIGINT), 'D'
        |  FROM documents WHERE doc_id % 7 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY gen DESC, op ASC) AS rn FROM lg WHERE gen <= 2)
        |SELECT doc_id, lang, n_chars, gen, 'U' AS op
        |FROM r WHERE rn = 1 AND op <> 'D'
        |UNION ALL
        |SELECT doc_id, lang, n_chars, gen, op FROM lg WHERE gen > 2""".stripMargin,

    "q_mask" ->
      """WITH b AS (SELECT
        |    ((c_custkey % 2147483647) * 1103515245 + 12345) % 2147483647
        |      AS pseudonym,
        |    substr(c_name, 1, 9) || '***' AS name_masked,
        |    c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) // 10000 AS bal_bucket
        |  FROM customer)
        |SELECT pseudonym, name_masked, c_mktsegment,
        |  CAST(bal_bucket AS BIGINT) AS bal_bucket,
        |  CAST(count(*) OVER (PARTITION BY c_mktsegment, bal_bucket)
        |    AS BIGINT) AS k_anon
        |FROM b""".stripMargin,
    "q_unpivot" ->
      """WITH m AS (
        |  SELECT l_returnflag, 'qty' AS measure,
        |    CAST(round(l_quantity) AS BIGINT) AS v FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'price_c',
        |    CAST(round(l_extendedprice*100) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'disc_e4',
        |    CAST(round(l_discount*10000) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'tax_e4',
        |    CAST(round(l_tax*10000) AS BIGINT) FROM lineitem)
        |SELECT l_returnflag, measure, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_v
        |FROM m GROUP BY 1, 2""".stripMargin,
    "q_sequence_gaps" ->
      """WITH k AS (SELECT o_orderkey AS key, o_orderkey // 4096 AS bucket
        |  FROM orders),
        |g AS (SELECT bucket,
        |    key - row_number() OVER (PARTITION BY bucket ORDER BY key) AS grp
        |  FROM k),
        |i AS (SELECT bucket, count(DISTINCT grp) AS n_islands FROM g GROUP BY 1),
        |st AS (SELECT bucket, count(*) AS n_keys,
        |    max(key) - min(key) + 1 - count(*) AS n_missing FROM k GROUP BY 1)
        |SELECT st.bucket, CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(n_missing AS BIGINT) AS n_missing,
        |  CAST(n_islands AS BIGINT) AS n_islands
        |FROM st JOIN i ON st.bucket = i.bucket""".stripMargin,
    "q_key_skew" ->
      """WITH per AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1),
        |h AS (SELECT c AS rows_per_key, count(*) AS n_keys FROM per GROUP BY 1)
        |SELECT rows_per_key, CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(rows_per_key * n_keys AS BIGINT) AS n_rows,
        |  CAST(rows_per_key * (SELECT sum(n_keys) FROM h) * 1000
        |    // (SELECT sum(rows_per_key * n_keys) FROM h) AS BIGINT) AS skew_x1000
        |FROM h""".stripMargin,
    "q_skew_join" ->
      """WITH big AS (SELECT
        |    CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 10 END AS k,
        |    CAST(round(l_extendedprice*100.0) AS BIGINT) AS cents,
        |    md5(CAST(l_orderkey AS VARCHAR)) AS pad
        |  FROM lineitem),
        |dim AS (SELECT range AS k, range + 100 AS w FROM range(10))
        |SELECT dim.w, count(*) AS cnt,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(max(length(pad || CAST(dim.w AS VARCHAR))) AS BIGINT) AS pad_len
        |FROM big JOIN dim ON big.k = dim.k
        |GROUP BY 1""".stripMargin,

    "q_bloom_join" ->
      """SELECT p_brand, count(*) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice*100.0) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY 1""".stripMargin,

    "q_range_join" ->
      """WITH p AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice*100.0) AS BIGINT) AS v FROM orders),
        |bands AS (SELECT o_orderpriority AS band, min(v) AS lo,
        |    min(v) + (max(v) - min(v)) // 2 AS hi
        |  FROM p GROUP BY 1)
        |SELECT bands.band, count(*) AS cnt, CAST(sum(p.v) AS BIGINT) AS sum_cents
        |FROM p JOIN bands ON p.v >= bands.lo AND p.v < bands.hi
        |GROUP BY 1""".stripMargin
  )
}
