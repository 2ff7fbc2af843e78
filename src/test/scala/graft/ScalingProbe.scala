package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The r8 scaling probe (VERDICT r7 #1): build a ~10× key-shifted copy
  * of the sf0.1 tables under scratch (NEVER touching /root/testdata),
  * run the heaviest queries at both scales with the Bench protocol, and
  * record per-query time ratios in SCALING.md. The probe converts the
  * "designed for 100 TB" argument into measured scaling exponents.
  *
  * Key-shifting is designed so the WORKLOAD scales linearly instead of
  * degenerating into cross-copy duplication (which would measure a
  * quadratic pair explosion the real corpus doesn't have):
  *  - events: event_id/user_id shift per copy → N× entities, each with
  *    the original series length and time span;
  *  - documents: doc_id shift + a per-copy AFFINE cipher on the
  *    lowercase alphabet, i → a·i + b mod 26 with a coprime to 26
  *    (bijective per copy, so intra-copy near-dup structure is EXACTLY
  *    preserved; two distinct affine maps agree on ≤ 2 letters, so
  *    cross-copy shingles/fingerprints never collide — 12·26 = 312
  *    distinct maps, two decades of copies where the r8 Caesar shift
  *    capped at 26). Copies 0–25 ARE the r8 Caesar shifts (a = 1);
  *  - embeddings: vec_id shift + a per-copy circular rotation of the
  *    vector dims composed with whole-vector NEGATION every 64 copies
  *    (both norm-preserving and intra-copy-cosine-exact; cross-copy
  *    cosines are uncorrelated across rotations and negated — hence
  *    maximally far from any near-dup threshold — between a rotation
  *    and its negated twin, where the rotation alone would repeat past
  *    64 copies). Copy 0 is the original bytes, keeping the fixed
  *    query vectors (vec_id < 5); copies 0–9 reproduce the r8
  *    construction bit-for-bit. */
object ScalingData {
  val DefaultDir: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_scaling_sf1"

  /** The 12 multipliers coprime to 26: with the 26 shifts, 312 distinct
    * affine bijections of the alphabet — the copy-index space. */
  private val CoprimeA = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  private def affine(c: Column, k: Int): Column = {
    val lo = "abcdefghijklmnopqrstuvwxyz"
    val up = lo.toUpperCase
    val a = CoprimeA((k / 26) % CoprimeA.length)
    val b = k % 26
    if (a == 1 && b == 0) c
    else {
      val permLo = (0 until 26).map(i => lo((a * i + b) % 26)).mkString
      translate(c, lo + up, permLo + permLo.toUpperCase)
    }
  }

  private def rotate(c: Column, k: Int, dim: Int): Column = {
    val r = k % dim
    val rot =
      if (r == 0) c
      else concat(slice(c, r + 1, dim - r), slice(c, 1, r))
    if ((k / dim) % 2 == 0) rot
    else transform(rot, v => negate(v))
  }

  def generate(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    val done = new java.io.File(s"$out/_GRAFT_SCALING_DONE")
    if (done.exists()) { println(s"[scaling] $out already generated"); return }

    val events = spark.read.parquet(s"$src/events.parquet")
    val eOff = events.agg(max(col("event_id"))).head().getLong(0) + 1L
    val uOff = events.agg(max(col("user_id"))).head().getLong(0) + 1L
    (0 until copies).map { c =>
      events.select(
        (col("event_id") + lit(c * eOff)).as("event_id"), col("ts"),
        (col("user_id") + lit(c * uOff)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dOff = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    (0 until copies).map { c =>
      docs.select(
        (col("doc_id") + lit(c * dOff)).as("doc_id"),
        affine(col("text"), c).as("text"),
        col("lang"), col("source"),
        col("n_chars"))
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vOff = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val dim = graft.operators.Similarity.Dim
    (0 until copies).map { c =>
      emb.select(
        (col("vec_id") + lit(c * vOff)).as("vec_id"),
        rotate(col("embedding"), c, dim).cast("array<float>").as("embedding"),
        col("label"))
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    done.getParentFile.mkdirs()
    java.nio.file.Files.writeString(done.toPath, s"src=$src copies=$copies\n")
    println(s"[scaling] generated $out (${copies}x $src)")
  }
}

object ScalingGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else ScalingData.DefaultDir
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local(32)
    ScalingData.generate(spark, src, out, copies)
    spark.stop()
  }
}

/** Bench-protocol timing of a NAMED subset of queries on one dataset:
  * session + artifact warm-up first (reported separately as warm_build,
  * exactly like Bench), then 3 interleaved passes with per-query
  * medians. One JSON line to stdout and to the given output file. */
object ScalingProbe {
  import Bench.q

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val names = args.drop(2).toSeq.sorted
    // ad-hoc conf overrides for probe experiments (e.g. the folded-30×
    // heap probe runs with spill read-ahead buffers off):
    //   SPARK_GRAFT_EXTRA_CONF="spark.a=1;spark.b=2"
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = GraftSession.local(32, extra)
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    graft.plans.GraftExtensions.install(spark)
    val warmBuilds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def warmed(name: String)(build: => Unit): Unit = {
      val t0 = System.nanoTime()
      build
      warmBuilds(name) = (System.nanoTime() - t0) / 1e9
    }
    if (names.contains("ltss_zorder_layout"))
      warmed("zorder_layout")(graft.operators.Queries.zorderLayoutPath(spark, sfDir))
    if (names.exists(_.startsWith("sim_ivf")))
      warmed("ivf_layout")(graft.operators.Similarity.ivfLayoutPath(spark, sfDir))
    if (names.exists(n => Seq("ltss_acf", "ltss_changepoint", "ltss_sax_motif",
        "ltss_asap_smooth", "ltss_forecast_backtest").contains(n)))
      warmed("dense_dev")(
        graft.operators.TimeSeries.denseDevCached(spark, sfDir).count())
    if (names.exists(n => n.startsWith("ltss_cagg")))
      warmed("cagg_layout")(graft.operators.TimeSeries.caggLayoutPath(spark, sfDir))
    if (names.exists(n => n == "ltss_geo_contact_pairs" ||
        n == "ltss_geo_exposure" || n == "ltss_geo_exposure_filtered" ||
        n == "ltss_geo_convoys" || n == "ltss_geo_convoy_groups" ||
        n == "ltss_geo_convoy_groups_core"))
      warmed("contact_pair_hours")(
        graft.operators.Queries.contactPairHourFrame(spark, sfDir).count())
    if (names.exists(n => n == "ltss_geo_contact_pairs" ||
        n == "ltss_geo_exposure" || n == "ltss_geo_exposure_filtered"))
      warmed("contact_pairs")(
        graft.operators.Queries.contactPairFrame(spark, sfDir).count())
    if (names.exists(n => n == "ltss_geo_convoy_groups" ||
        n == "ltss_geo_convoy_groups_core"))
      warmed("convoy_hour_labels")(
        graft.operators.Queries.convoyHourLabels(spark, sfDir).count())
    if (names.contains("ltss_geo_dbscan"))
      warmed("geo_dbscan")(
        graft.operators.Queries.dbscanLabels(spark, sfDir).count())
    if (names.contains("ltss_geo_dbscan_latlon"))
      warmed("geo_dbscan_latlon")(
        graft.operators.Queries.dbscanLatLonLabels(spark, sfDir).count())
    if (names.exists(n => n == "ltss_geo_track" || n == "ltss_geo_simplify" ||
        n == "ltss_geo_staypoints" || n == "ltss_geo_od" ||
        n == "ltss_geo_od_sensitivity" || n == "ltss_geo_od_zones"))
      warmed("geo_track_layout")(
        graft.operators.Queries.trackLayoutPath(spark, sfDir))
    if (names.exists(n => n == "ltss_geo_dp" || n == "ltss_geo_frechet" ||
        n == "ltss_geo_hausdorff" || n == "ltss_geo_dtw" ||
        n == "ltss_geo_dtw_band"))
      warmed("geo_track2d_layout")(
        graft.operators.Queries.trackLayout2dPath(spark, sfDir))
    if (names.contains("ltss_geo_hull"))
      warmed("geo_trackhull_layout")(
        graft.operators.Queries.trackLayoutSkewPath(spark, sfDir))
    if (names.exists(n => n == "ltss_geo_zones" || n == "ltss_geo_zone_stats" ||
        n == "ltss_zones_dwell" || n == "ltss_geo_zones_overlap" ||
        n == "ltss_geo_zone_centroid" || n == "ltss_geo_zone_nearest" ||
        n == "ltss_geo_zones_intersect" || n == "ltss_geo_od_zones"))
      warmed("geo_zone_layout")(
        graft.operators.Queries.zoneLayoutPath(spark, sfDir))
    if (names.exists(n => n == "ltss_geo_zones_intersect_concave" ||
        n == "ltss_geo_zone_centroid_concave"))
      warmed("geo_zone_layout_concave")(
        graft.operators.Queries.zoneLayoutConcavePath(spark, sfDir))
    warmed("dedup_bands")(graft.operators.Dedup.warmShared(spark, sfDir))
    warmed("kmeans_train")(
      graft.operators.Similarity.kmeansAssignments(spark, sfDir,
        graft.operators.Similarity.KmIters).count())
    warmed("pq_train")(graft.operators.Pq.pqCodes(spark, sfDir).count())
    warmed("pipeline_stage")(
      graft.operators.Pipeline.stageFrame(spark, sfDir).count())
    locally {
      import spark.implicits._
      graft.operators.Dedup.withAqeOff(spark)(
        graft.operators.Dedup.connectedComponents(
          Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id"))._1.count())
      ()
    }
    val Runs = 3
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val errs = scala.collection.mutable.Map.empty[String, String]
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadAvgs = scala.collection.mutable.ListBuffer(osBean.getSystemLoadAverage)
    for (_ <- 1 to Runs) {
      for (name <- names if !errs.contains(name)) {
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch {
          case e: Throwable =>
            errs(name) = s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").replace('\n', ' ').take(160)
        }
        times(name) = ((System.nanoTime() - t0) / 1e9) :: times.getOrElse(name, Nil)
      }
      loadAvgs += osBean.getSystemLoadAverage
    }
    // errored queries report only under "errors" — a failure-run wall time
    // in the medians map would read as a measured median
    // second-decade cache gate (r8 verdict #1): re-touch every artifact
    // build AFTER the passes — a cache hit costs milliseconds, a
    // re-train (the r8 eviction class) costs build-scale seconds — and
    // record the artifact-cache occupancy against its cap
    val warm2 = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def touched(name: String)(build: => Unit): Unit = {
      val t0 = System.nanoTime()
      build
      warm2(name) = (System.nanoTime() - t0) / 1e9
    }
    touched("dedup_bands")(graft.operators.Dedup.warmShared(spark, sfDir))
    touched("kmeans_train")(
      graft.operators.Similarity.kmeansAssignments(spark, sfDir,
        graft.operators.Similarity.KmIters).count())
    touched("pq_train")(graft.operators.Pq.pqCodes(spark, sfDir).count())
    touched("pipeline_stage")(
      graft.operators.Pipeline.stageFrame(spark, sfDir).count())
    val cfSize = graft.CachedFrames.size
    require(cfSize <= graft.CachedFrames.MaxEntries,
      s"CachedFrames overflowed its cap: $cfSize > ${graft.CachedFrames.MaxEntries}")
    val medians = names.filterNot(errs.contains).map { n =>
      val ts = times(n)
      n -> ts.sorted.apply(ts.size / 2)
    }
    val qs = medians.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    val es = errs.map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}")
    val warm = warmBuilds.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    val warm2s = warm2.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    val line = s"""{"sf":${q(sfDir)},"queries":$qs,"errors":$es,""" +
      s""""warm_build":$warm,"warm_build2":$warm2s,""" +
      s""""cached_frames":{"size":$cfSize,"max":${graft.CachedFrames.MaxEntries}},""" +
      s""""runs_per_query":$Runs,"aggregation":"median",""" +
      s""""load_avg":${loadAvgs.mkString("[", ",", "]")}}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    spark.stop()
  }
}
