package graft.scale

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path, Paths}

import graft.{Caching, PackRun, SparkEntry, Tables}
import graft.ScaleBench._
import graft.ext.{Ann, TextOps, VectorKMeans}
import graft.sources.{Container, RefitSource, UkdaleSource}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end entries of [[graft.ScaleBench]]: ingest, the query pack
  * at replicated scale, streaming throughput and ANN recall. */
object SystemBenches {

  private def writeLines(p: Path)(f: BufferedWriter => Unit): Unit = {
    val w = new BufferedWriter(new FileWriter(p.toFile))
    try f(w) finally w.close()
  }

  /** UK-DALE tree: houses × channels `channel_N.dat` (ts power) + the
    * combined metadata JSON. Channel 1 is the metered aggregate.
    * Seeded and driver-side: the fixture writer is not under test. */
  def genUkdale(root: Path, houses: Int, channels: Int,
                rowsPerChannel: Int): Unit = {
    val rnd = new scala.util.Random(41)
    val labels = Seq("aggregate", "fridge freezer", "washing machine",
      "kettle", "television", "dish washer", "microwave", "toaster")
    for (h <- 1 to houses; c <- 1 to channels) {
      val dir = root.resolve(s"house_$h")
      Files.createDirectories(dir)
      val t0 = 1600000000L + h * 17
      writeLines(dir.resolve(s"channel_$c.dat")) { w =>
        var i = 0
        while (i < rowsPerChannel) {
          val power = math.abs(rnd.nextGaussian()) * (if (c == 1) 400 else 60)
          w.write(s"${t0 + 6L * i} ${math.round(power * 100) / 100.0}\n")
          i += 1
        }
      }
    }
    val metaDir = root.resolve("metadata")
    Files.createDirectories(metaDir)
    val houseBlocks = (1 to houses).map { h =>
      val chans = (1 to channels).map { c =>
        val raw = if (c == 1) "aggregate" else labels(c % labels.size)
        val device = if (c == 1) "EcoManagerWholeHouseTx" else "EcoManagerTxPlug"
        s"""{"channel": $c, "appliance_raw_label": "$raw", "manufacturer": "m$c", "model": "x$c", "acquisition_device": "$device"}"""
      }.mkString("[", ", ", "]")
      s""""House $h": $chans"""
    }.mkString("{", ", ", "}")
    writeLines(metaDir.resolve("ukdale_combined_metadata.json"))(_.write(houseBlocks))
  }

  /** REFIT tree: `CLEAN_HouseN.csv` wide files + appliance metadata. */
  def genRefit(root: Path, houses: Int, appliances: Int,
               rowsPerHouse: Int): Unit = {
    val rnd = new scala.util.Random(43)
    Files.createDirectories(root)
    for (h <- 1 to houses) {
      writeLines(root.resolve(s"CLEAN_House$h.csv")) { w =>
        val appCols = (1 to appliances).map(i => s"Appliance$i").mkString(",")
        w.write(s"Unix,Time,Issues,Aggregate,$appCols\n")
        val t0 = 1600000000L + h * 31
        var i = 0
        while (i < rowsPerHouse) {
          val agg = math.abs(rnd.nextGaussian()) * 500
          val apps = (1 to appliances)
            .map(_ => math.round(math.abs(rnd.nextGaussian()) * 80 * 100) / 100.0)
            .mkString(",")
          w.write(s"${t0 + 8L * i},ignored,0,${math.round(agg * 100) / 100.0},$apps\n")
          i += 1
        }
      }
    }
    val houseBlocks = (1 to houses).map { h =>
      val chans = (1 to appliances + 1).map { c =>
        val raw = if (c == 1) "aggregate" else s"appliance type $c"
        s"""{"channel": $c, "appliance_raw_label": "$raw", "manufacturer": "m", "model": "x"}"""
      }.mkString("[", ", ", "]")
      s""""House $h": $chans"""
    }.mkString("{", ", ", "}")
    writeLines(root.resolve("refit_appliance_metadata.json"))(_.write(houseBlocks))
  }

  /** Raw tree → container → facade, at n readings in total (3 UK-DALE
    * houses × 5 channels carry 75%; 2 REFIT houses × 5 columns the
    * rest): E1 raw load with full materialization, S7 container
    * write, S8 + E2 read back, resample, aggregate and common
    * channels. `value` is E1 + S7 + S8/E2; fixture generation is
    * reported apart. */
  val ingest: Entry = Entry(Seq(1000000L),
    Seq(Seq("metric", "value", "unit", "rows", "stages")),
    (ctx, n) => {
      val spark = ctx.spark
      val (ukHouses, ukChannels, reHouses, reApps) = (3, 5, 2, 4)
      withTempDir("graft_ingest") { dir =>
        val base = Paths.get(dir)
        val genSec = secs {
          genUkdale(base.resolve("ukdale"), ukHouses, ukChannels,
            (n * 3 / 4 / (ukHouses * ukChannels)).toInt)
          genRefit(base.resolve("refit"), reHouses, reApps,
            (n / 4 / (reHouses * (reApps + 1))).toInt)
        }
        val ((ds, rows), loadSec) = timed {
          val merged = UkdaleSource.load(spark, base.resolve("ukdale").toString)
            .union(RefitSource.load(spark, base.resolve("refit").toString))
          val rows = merged.readings.count()
          merged.channels.count()
          (merged, rows)
        }
        val containerDir = base.resolve("container").toString
        val writeSec = secs(Container.write(ds, containerDir))
        val querySec = secs {
          val c = Container.read(spark, containerDir)
          c.resampleAllChannels(24).computeAggregateFromAppliances().count()
          c.commonChannels(Seq("aggregate", "washing machine")).count()
          Caching.release()
        }
        Seq(Seq("metric" -> "ingest_e2e", "value" -> (loadSec + writeSec + querySec),
          "unit" -> "sec", "rows" -> rows,
          "stages" -> Seq("gen_fixture" -> genSec, "e1_raw_load" -> loadSec,
            "s7_container_write" -> writeSec, "s8_e2_query" -> querySec)))
      }
    })

  /** The five most composed pack queries, by their production entry
    * points, over the sf tables replicated ×r (the size axis). */
  val PackQueries: Seq[String] = Seq("q99_dsir_weights",
    "q175_containment_pairs", "q49_tensor_windows", "q86_line_dedup",
    "q101_gap_fill")

  /** Size-vs-time curves for [[PackQueries]]: per scale, one untimed
    * warm-up and 3 timed cache-cold runs per query (median, [min, max]
    * spread); the summary line is each query's ln t / ln scale
    * exponent. Replication is [[buildScaled]]'s. */
  val pack: Entry = Entry(Seq(1L, 4L, 16L),
    Seq(Seq("metric", "q", "scale", "rows", "sec", "spread"),
      Seq("metric", "scales") ++ PackQueries),
    (ctx, r) => {
      val spark = ctx.spark
      def runOnce(name: String, dir: String): (Long, Double) =
        PackRun.coldRun(spark, name)(
          timed(SparkEntry.queries(name)(spark, dir).collect().length.toLong))
      def measure(dir: String) = PackRun.select(PackQueries).map { q =>
        runOnce(q, dir) // warm-up (JIT + file listing), untimed
        val samples = (1 to 3).map(_ => runOnce(q, dir))
        val (med, lo, hi) = medianSpread(samples.map(_._2))
        Seq("metric" -> "pack_scale", "q" -> q, "scale" -> r,
          "rows" -> samples.head._1, "sec" -> med, "spread" -> Seq(lo, hi))
      }
      if (r == 1) measure(ctx.sfDir)
      else withTempDir("graft_pack")(out => measure(buildScaled(spark, ctx.sfDir, r.toInt, out)))
    },
    summary = points => {
      val timings = points.map(_.toMap).map(m =>
        (m("q").asInstanceOf[String], m("scale").asInstanceOf[Long],
          m("sec").asInstanceOf[Double]))
      Seq(Seq("metric" -> "pack_scale_exponents", "scales" -> timings.map(_._2).distinct) ++
        PackQueries.map { q =>
          q -> exponent(timings.filter(_._1 == q).map(p => (p._2.toDouble, p._3)))
        })
    })

  /** Replicate documents + events ×r into `out` (the other tables
    * symlink to the flat copy; the five queries read only these two).
    * Scale the data, not the duplicate structure:
    *   - doc_id offsets per copy (+r·10⁷), and document TEXT is
    *     word-wise salted per copy (`c<r><word>`, a bijective token map)
    *     so within-copy duplicate lines (q86), shingle dfs (q175's
    *     df ∈ [2,10] anchor cap) and n-gram profiles (q99) keep their
    *     per-copy structure while nothing is content-equal ACROSS
    *     copies — a text-identical copy would multiply every df by r
    *     and measure a different q175 per point;
    *   - events replicate along TIME for the SAME users (copy r is the
    *     same span of activity one span later; event_id offsets
    *     +r·10⁹) — ×r rows per user series, the axis q101's and q49's
    *     per-key operators feel; a key offset would leave them at ×1. */
  def buildScaled(spark: SparkSession, sfDir: String, r: Int,
                  out: String): String = {
    Files.createDirectories(Paths.get(out))
    val reps = explode(sequence(lit(0L), lit(r - 1L))).as("__r")
    Tables.documents(spark, sfDir).select(reps, col("*"))
      .select((col("doc_id") + col("__r") * 10000000L).as("doc_id"),
        when(col("__r") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), "\\s+"),
            w => concat(lit("c"), col("__r").cast("string"), w)))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val events = Tables.events(spark, sfDir)
    val spanUs = events.agg((max(unix_micros(col("ts"))) -
      min(unix_micros(col("ts"))) + 3600L * 1000000L)).head().getLong(0)
    events.select(reps, col("*"))
      .select((col("event_id") + col("__r") * 1000000000L).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + col("__r") * spanUs).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    Seq("embeddings", "lineitem", "orders", "customer", "part",
      "supplier", "nation", "region").foreach { name =>
      Files.createSymbolicLink(Paths.get(s"$out/$name.parquet"),
        Paths.get(s"$sfDir/$name.parquet"))
    }
    out
  }

  /** Median `processedRowsPerSecond` after the first two row-carrying
    * batches (JIT and a cold state store; batches 0/1 often carry no
    * rows, and `recentProgress` is a ring buffer, so neither a bare
    * batchId cut nor a positional drop works); -1 with no sample. */
  private def medianRate(q: org.apache.spark.sql.streaming.StreamingQuery): Double = {
    val rows = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val cut = rows.map(_.batchId).minOption.getOrElse(0L) + 2
    val rates = rows.filter(_.batchId >= cut)
      .map(_.processedRowsPerSecond).filterNot(_.isNaN).sorted
    if (rates.isEmpty) -1.0 else rates(rates.length / 2)
  }

  /** Sustained rows/s of the StreamingOps shapes from a `rate` source
    * (200 k rows/s offered over 8 source partitions) into a noop sink,
    * each shape run for n seconds (the size axis): the watermarked
    * bucket mean; the near-dup pipeline decomposed into the stateless
    * SimHash projection, the md5-keyed stateful core, the full
    * SimHash-keyed dedup and its dropDuplicatesWithinWatermark form;
    * and session-window summaries. A rate ≈ the offered rate means
    * source-bound: every number is a lower bound on capacity. `store`
    * is the state-store provider: "hdfs" (the default) or "rocksdb". */
  def streaming(store: String): Entry = Entry(Seq(30L),
    Seq(Seq("offered_rps", "secs", "store", "bucket_mean_rows_per_sec",
      "dedup_proj_rows_per_sec", "dedup_exact_rows_per_sec",
      "dedup_near_rows_per_sec", "dedup_near_ww_rows_per_sec",
      "session_agg_rows_per_sec")),
    (ctx, runSecs) => {
      import graft.streaming.StreamingOps
      val spark = ctx.spark
      val rps = 200000L
      val storeConf =
        if (store == "rocksdb") Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        else Nil
      def rate(): DataFrame = spark.readStream.format("rate")
        .option("rowsPerSecond", rps).option("numPartitions", 8).load()
      def run(name: String, out: DataFrame): Long =
        withTempDir(s"graft_sb_$name") { ckpt =>
          val q = out.writeStream.format("noop")
            .option("checkpointLocation", ckpt).start()
          Thread.sleep(runSecs * 1000L)
          val r = medianRate(q)
          q.stop()
          math.round(r)
        }
      val readings = rate().select(
        col("timestamp").as("ts"),
        concat(lit("d"), pmod(col("value"), lit(50))).as("device"),
        (col("value") % 1000).cast("double").as("apower"))
      // every 4 consecutive rows share a word SET in a row-dependent
      // rotation, so drops come from SimHash's order-invariance, not
      // byte-equal text, and both first-wins and drop paths run
      def docs(): DataFrame = rate().select(
        col("value").as("doc_id"),
        col("timestamp").as("ts"),
        (0 until 4).foldLeft(lit(null).cast("string")) { (acc, r) =>
          when(pmod(col("value"), lit(4)) === r,
            concat_ws(" ", (0 until 20).map { j =>
              val jr = (j + 5 * r) % 20
              concat(lit("w"), pmod(col("value").divide(lit(4)).cast("long")
                * 31 + jr * 7, lit(5000)))
            }: _*)).otherwise(acc)
        }.as("text"))
        .withWatermark("ts", "10 seconds")
      withConf(spark, storeConf: _*) {
        Seq(Seq("offered_rps" -> rps, "secs" -> runSecs, "store" -> store,
          "bucket_mean_rows_per_sec" -> run("bucket",
            StreamingOps.bucketMean(readings, "1 minute", "10 seconds")),
          "dedup_proj_rows_per_sec" -> run("dedup_proj",
            docs().select(col("doc_id"), col("ts"), expr("graft_simhash(text)").as("sig"))),
          "dedup_exact_rows_per_sec" -> run("dedup_exact",
            StreamingOps.dedupDocsExact(docs(), ttlSeconds = 3600).toDF()),
          "dedup_near_rows_per_sec" -> run("dedup",
            StreamingOps.dedupDocsNear(docs(), ttlSeconds = 3600).toDF()),
          "dedup_near_ww_rows_per_sec" -> run("dedup_ww",
            StreamingOps.dedupDocsNearWithinWatermark(docs()).toDF()),
          "session_agg_rows_per_sec" -> run("session_agg",
            StreamingOps.sessionAgg(readings, gapSeconds = 30, lateness = "10 seconds"))))
      }
    })

  /** Deterministic clustered corpus: `n` vectors of `dim` dims in
    * `nCenters` clusters — vector = its center + `noise` × jitter,
    * every coordinate a pure xxhash64 expression in (cluster | vec)
    * id: repeatable, generated fully distributed, and with REAL
    * neighbor structure (an i.i.d.-uniform corpus has no neighbors to
    * find at any index granularity). */
  def syntheticEmbeddings(spark: SparkSession, n: Long, dim: Int,
                          nCenters: Int, noise: Double): DataFrame = {
    def u(cols: Column*): Column = // pseudo-uniform in [-1, 1]
      pmod(xxhash64(cols: _*), lit(2000001L)).cast("double") / 1e6 - 1.0
    val center = pmod(xxhash64(lit("assign"), col("id")), lit(nCenters.toLong))
    spark.range(n).select(
      col("id").as("vec_id"),
      array((0 until dim).map(i =>
        u(lit("c"), center, lit(i)) + lit(noise) * u(lit("v"), col("id"), lit(i))): _*)
        .as("emb"))
  }

  /** recall@10 of [[graft.ext.Ann]] indexes against brute force over
    * 50 queries, with the scanned-candidate fraction (candidate pairs /
    * brute-force pairs — at 100 TB the fraction IS the cost): LSH exact
    * bucket (q28), Hamming-1 ball (q82), margin probes at T = 1,
    * planes/2, planes (q83), tables L = 1, 2, 4 alone and with
    * T = planes/2 probes (q84/q88), IVF nprobe 1/2/4 over 16 fitted
    * cells (q50), SQ8 asymmetric distance (q87) alone and inside the
    * Lmax × T index. Each leg searches one of three keyed corpora, so
    * each keying pass runs once (table t's planes do not depend on L:
    * the first L of Lmax tables ARE an L-table index). Size n = 0 reads
    * the sf embeddings table; n > 0 is a [[syntheticEmbeddings]] corpus
    * (32 dims, n/500 clusters, noise 0.35). */
  val ann: Entry = Entry(Seq(0L),
    Seq(Seq("n", "k", "queries", "cells", "planes", "lsh_exact", "lsh_multiprobe",
      "lsh_mp_margin_t1", "lsh_mp_margin_t2", "lsh_mp_margin_t4",
      "lsh_tables_l1", "lsh_tables_l2", "lsh_tables_l4", "lsh_tables_l1_margin_t2",
      "lsh_tables_l2_margin_t2", "lsh_tables_l4_margin_t2", "ivf_p1", "ivf_p2",
      "ivf_p4", "sq8_adc", "sq8_tables_l4_margin_t2")),
    (ctx, nSyn) => {
    val spark = ctx.spark
    import spark.implicits._
    import Ann.{ByMargin, LshTables}
    val (k, nQ, kCells, planes, tablesList) = (10, 50L, 16, TextOps.LshPlanes, Seq(1, 2, 4))
    val lMax = tablesList.max
    val tHalf = math.max(planes / 2, 1)
    val queries = $"vec_id" < nQ

    val base =
      if (nSyn > 0) syntheticEmbeddings(spark, nSyn, dim = 32,
        nCenters = math.max(nSyn / 500, 2L).toInt, noise = 0.35)
      else Tables.embeddings(spark, ctx.sfDir)
        .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
    // margins ride along the same grouped sums; only queries read them
    val single = Ann.corpus(base, "vec_id", "emb", Ann.Lsh(ByMargin(planes)))
    val n = single.vectors.count()

    def topSets(c: Ann.Corpus): Map[Long, Set[Long]] =
      Ann.topK(c, queries, k).select($"query_id", $"neighbor_id")
        .as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val truth = topSets(single.probedBy(Ann.BruteForce))
    /** {recall@k vs truth, scanned fraction} of one search. The
      * candidates are counted and ranked, so persisted: `topK`'s
      * identical candidate plan reads the cache, not the key join. */
    def measure(c: Ann.Corpus): Record = {
      val cands = Caching.persisted(Ann.candidates(c, queries)).count()
      val top = topSets(c)
      val recall = truth.map { case (q, t) =>
        top.getOrElse(q, Set.empty[Long]).count(t).toDouble / t.size
      }.sum / truth.size
      // fractions sit at 1e-4..1e-7 at the 1 M-vector operating point
      Seq("recall" -> Fixed(recall, 4), "cand_frac" -> Fixed(cands.toDouble / (nQ * (n - 1)), 8))
    }

    val lshExact = measure(single.probedBy(Ann.Lsh()))
    val multiprobe = measure(single.probedBy(Ann.Lsh(Ann.Hamming1)))
    val margin = Seq(1, planes / 2, planes).filter(_ >= 1).distinct.sorted.map { t =>
      s"lsh_mp_margin_t$t" -> measure(single.probedBy(Ann.Lsh(ByMargin(t))))
    }

    val tabled = Ann.corpus(base, "vec_id", "emb", LshTables(lMax, Some(tHalf)))
    val tables = tablesList.map { l =>
      s"lsh_tables_l$l" -> measure(tabled.probedBy(LshTables(l)))
    } ++ tablesList.map { l =>
      s"lsh_tables_l${l}_margin_t$tHalf" ->
        measure(tabled.probedBy(LshTables(l, Some(tHalf))))
    }

    // one fitted model and one cell assignment for the nprobe sweep
    val vecs = single.vectors.select($"vec_id", $"emb")
    val model = VectorKMeans.fit(vecs, "vec_id", "emb", k = kCells, iters = 2)
    val celled = Ann.corpus(vecs, "vec_id", "emb", Ann.Ivf(model, 1)).cellsPersisted
    val ivf = Seq(1, 2, 4).map { p =>
      s"ivf_p$p" -> measure(celled.probedBy(Ann.Ivf(model, p)))
    }

    // SQ8: rank by float query × decoded-int8 corpus cosine; index
    // keys stay float-derived (assigned at ingest, before quantization)
    val sq8 = measure(single.probedBy(Ann.Sq8()))
    val sq8Stack = measure(tabled.probedBy(Ann.Sq8(LshTables(lMax, Some(tHalf)))))
    Caching.release()

    Seq(Seq("n" -> n, "k" -> k, "queries" -> nQ, "cells" -> kCells, "planes" -> planes,
      "lsh_exact" -> lshExact, "lsh_multiprobe" -> multiprobe) ++
      margin ++ tables ++ ivf ++
      Seq("sq8_adc" -> sq8, s"sq8_tables_l${lMax}_margin_t$tHalf" -> sq8Stack))
  })
}
