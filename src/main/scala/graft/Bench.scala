package graft

import java.nio.file.{Files, Paths}

import graft.etl.EtlPipeline
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is executed `SPARK_GRAFT_BENCH_RUNS`
  * times (default 3) and the fastest run is reported — first execution
  * pays one-time JVM/codegen/scan-footer costs that a long-lived cluster
  * amortizes away, which is the regime the baseline describes. A full
  * run also times the ETL over a synthetic 300k-resource export (its
  * `etl` block).
  */
object Bench {

  @volatile private var blackhole: Long = 0L

  /** `f`'s result and its wall seconds: every timed region of the bench
    * is measured here.
    */
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Fixed-work load calibration: every core spins the same constant
    * iteration count and the WALL time is reported. On an idle host
    * this is a hardware constant (~0.25s here); under external load
    * the wall time stretches with scheduling contention — exactly the
    * distortion that stretches the query timings. Emitting it
    * before/during/after the run makes the artifact self-interpreting:
    * a BENCH_rN whose cal values sit 2–4× above the ~1.0s idle
    * constant is announcing its absolute numbers carry that multiplier
    * (r7's artifact recorded etl.incr_s=29.1 vs 7.1s idle on the SAME
    * tree with no way to tell — that gap motivated this).
    */
  def loadCal(threads: Int): Double = {
    val iters = 400000000L
    timed {
      val ts = (1 to threads).map { t =>
        new Thread(() => {
          var x = 0x9e3779b97f4a7c15L + t
          var i = 0L
          while (i < iters) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
          }
          blackhole ^= x
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
    }._2
  }

  /** 1-minute system load average (−1 where the JVM can't read it) —
    * the cheap external-load witness beside [[loadCal]]'s direct one.
    */
  def loadAvg(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  /** (steal, total) CPU jiffies from /proc/stat — the hypervisor's
    * share of our time slices. The spin calibration is ALU-bound and
    * misses bursty steal (measured: identical code+data ran 1.45×
    * slower across sessions while cal read ~1.05), so the artifact
    * also records the steal percentage over its own window — the
    * direct witness for "the host was being robbed, not the code".
    * (0, 0) where /proc/stat is unavailable.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      val parts = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      // fields: user nice system idle iowait irq softirq steal ...
      (if (parts.length > 7) parts(7) else 0L, parts.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** One ETL leg's seconds: a cold load, a 1% incremental re-export of
    * the observations, and a 5-row batch (the hash-bucket fast path,
    * which touches few of the buckets the cold load sized the table
    * with, about one per `Sizing.RowsPerBucket` rows; at production
    * bucket counts nearly all batches look like this).
    */
  private[graft] final case class EtlTimes(rows: Long, coldS: Double,
      incrS: Double, tinyS: Double)

  /** Synthesizes a bulk-export NDJSON directory of `nPat` patients and
    * `nObs` observations (deterministic contents) and times the full
    * pipeline over it: read → widen → scrub → dedup → bucketed merge →
    * completion. Everything it writes lives under one `etlbench-*`
    * temp dir, deleted after the last load and outside every timed
    * region.
    */
  private[graft] def etlOnce(spark: SparkSession, nPat: Int,
      nObs: Int): EtlTimes = {
    def patient(i: Int): String = {
      val zip = f"${(i * 37) % 100000}%05d"
      s"""{"resourceType":"Patient","id":"pat-$i","gender":"${if (i % 2 == 0) "female" else "male"}","birthDate":"19${50 + i % 50}-07-15","name":[{"family":"Fam$i","given":["G$i"]}],"address":[{"city":"City$i","state":"MA","postalCode":"$zip"}],"managingOrganization":{"reference":"Organization/org-${i % 100}"},"meta":{"lastUpdated":"2024-01-01T00:00:00Z"}}"""
    }
    def observation(i: Int): String =
      s"""{"resourceType":"Observation","id":"obs-$i","status":"final","code":{"coding":[{"system":"http://loinc.org","code":"${1000 + i % 500}-1","display":"Test ${i % 500}"}],"text":"obs text $i"},"subject":{"reference":"Patient/pat-${i % nPat}"},"encounter":{"reference":"Encounter/enc-${i % (nPat / 2 + 1)}"},"effectiveDateTime":"2021-06-07T08:09:10Z","valueQuantity":{"value":${i % 300},"unit":"mg/dL"},"valueString":"free text $i"}"""

    val root = Files.createTempDirectory("etlbench-")
    def dir(name: String): String =
      Files.createDirectories(root.resolve(name)).toString
    def writeShards(in: String, base: String, n: Int,
        mk: Int => String): Unit =
      (0 until 8).foreach { s =>
        val sb = new StringBuilder()
        var i = s
        while (i < n) { sb.append(mk(i)).append('\n'); i += 8 }
        Files.write(Paths.get(in, f"$base.$s%03d.ndjson"),
          sb.toString.getBytes("UTF-8"))
      }
    def writeBatch(in: String, ids: Seq[Int]): Unit =
      Files.write(Paths.get(in, "Observation.000.ndjson"),
        ids.map(observation).mkString("\n").getBytes("UTF-8"))

    try {
      val (out, phi) = (dir("out"), dir("phi"))
      val tasks = EtlPipeline.DefaultTasks
        .filter(t => Set("Patient", "Observation").contains(t.resourceType))
      def load(in: String, ts: Seq[EtlPipeline.EtlTask], group: String,
          exportTime: String) =
        timed(EtlPipeline.run(spark, in, out, phi, tasks = ts,
          groupName = group, exportTime = exportTime))

      val in = dir("in")
      writeShards(in, "Patient", nPat, patient)
      writeShards(in, "Observation", nObs, observation)
      val (results, coldS) = load(in, tasks, "bench", "2024-01-01T00:00:00Z")

      val obsTask = tasks.filter(_.resourceType == "Observation")
      // incremental: re-export 1% of observations as updates
      val in2 = dir("in2")
      writeBatch(in2, (0 until nObs / 100).map(_ * 100))
      val incrS = load(in2, obsTask, "bench2", "2024-01-02T00:00:00Z")._2

      val in3 = dir("in3")
      writeBatch(in3, 0 until 5)
      val tinyS = load(in3, obsTask, "bench3", "2024-01-03T00:00:00Z")._2
      EtlTimes(results.map(_.rows).sum, coldS, incrS, tinyS)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    // min-of-3 by default: the shared bench host shows 1.5× wall-clock
    // swings from external load; a third sample tightens the min
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional args = subset of query names (dev loop); default all.
    // A typo'd name must FAIL, not silently produce an empty run that
    // looks like success.
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        s"${unknown.toSeq.sorted.mkString(", ")}")
    // Exactness-GATE queries whose physical plan duplicates work the
    // suite already times: the exhaustive-probe ANN gates are the q30
    // brute-force scan by construction, and q179's plan is a strict
    // prefix of q180's. They stay in the CORRECTNESS gate (Verify runs
    // the full registry); skipping their duplicate timings keeps the
    // full-suite bench wall-clock flat as the gate count grows.
    // Explicit query args still bench them (dev loop), and
    // SPARK_GRAFT_BENCH_ALL=1 restores the full set.
    // q183 is a strict plan prefix of q184 (sketch vs sketch+merge);
    // q186–q189 time the BPE argmax / unigram EM loops on forced
    // 3-4-word dictionaries — pure correctness gates; q127/q139/
    // q161/q162 already time the real trainers.
    // q196 re-runs the q30 brute-force scan (its truth side) plus an
    // IVF probe pass the suite times as q39 — a pure operating-point
    // gate, so it stays in Verify but out of the default timed set.
    val gateTwins = Set("q171_ivf_exact", "q172_lsh_exact",
      "q174_pq_exact", "q175_ivfpq_exact", "q179_cut_intervals",
      "q183_hll_registers", "q186_bpe_forced", "q187_bpe_encode_forced",
      "q188_unigram_forced", "q189_unigram_encode_forced",
      "q196_ivf_confusion")
    val selected =
      if (args.nonEmpty) SparkEntry.queries.filter(kv => args.contains(kv._1))
      else if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1"))
        SparkEntry.queries
      else SparkEntry.queries.filterNot(kv => gateTwins.contains(kv._1))
    val (stealPre, totalPre) = cpuJiffies()
    val calPre = loadCal(cpus)
    val avgPre = loadAvg()
    System.err.println(f"[bench] load cal pre=$calPre%.2fs loadavg=$avgPre%.1f")
    val failed = scala.collection.mutable.SortedSet.empty[String]
    var sinceLoad = 0
    val results = selected.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        // keys persisted BEFORE this query — the cleanup below is scoped
        // to what the query itself created (r10's blanket unpersist was
        // flagged as a hazard against shared localCheckpoint'ed state;
        // Bench owns its session, but scoping costs nothing and the
        // discipline transfers to shared-session callers)
        val preKeys = spark.sparkContext.getPersistentRDDs.keySet
        val times = (1 to math.max(1, runs)).map { _ =>
          // materialize the FULL output (queryExecution.toRdd), not
          // df.count(): under count() Catalyst prunes every unused
          // projection, so a map-only query's per-row work was never
          // measured at all — one interpreted-HOF query benched 0.2s
          // while costing 9 CPU-minutes when actually evaluated. This
          // measures what a consumer of the result pays.
          val (_, dt) = timed {
            try { fn(spark, sfDir).queryExecution.toRdd.count() }
            catch {
              // a failed query must not masquerade as a fast one: record it
              case e: Throwable =>
                failed += name
                System.err.println(s"[bench] $name failed: ${e.getMessage}")
            }
          }
          System.err.println(f"[bench] $name%-22s $dt%8.2fs")
          dt
        }
        // Isolation BETWEEN queries: one-shot localCheckpoint/persist
        // frames built INSIDE a query (signature tables, candidate sets)
        // have no release point once its action completes, so across
        // ~400 timed runs they stack in the storage pool and pressure
        // execution memory for every LATER query (measured: identical
        // queries run 2-4x slower late in a session than in isolation).
        // r10 ran this after every RUN with unpersist(blocking=false) +
        // GC — whose ASYNC ContextCleaner work then overlapped the next
        // timed region (VERDICT r10 flagged it as a plausible cause of
        // uniform sub-second inflation). Now: once per QUERY, after the
        // min-of loop, BLOCKING, before the next query's t0 — cleanup
        // cost lands fully outside every timed region. Each run still
        // computes everything from the parquet inputs — this releases
        // state, never reuses it.
        spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => !preKeys.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
        // broadcast relations (every BroadcastHashJoin builds one) are
        // only released when the ContextCleaner sees their driver-side
        // reference collected — nudge the collector so ~400 runs of
        // debris don't compound into later queries' measurements
        System.gc()
        // ambient-load witness every ~25 queries (VERDICT r10 item 3:
        // per-run load capture cannot localize WHICH queries a load
        // burst distorted) — stderr only, the JSON line stays compact
        sinceLoad += 1
        if (sinceLoad >= 25) {
          sinceLoad = 0
          System.err.println(
            f"[bench] load mid loadavg=${loadAvg()}%.1f (after $name)")
        }
        name -> times.min
    }
    // failed queries are EXCLUDED from the timings map and the total —
    // an analysis failure's latency is not a runtime, and round 5's
    // report showed how convincingly it can impersonate one
    val ok = results.filterNot { case (k, _) => failed.contains(k) }
    val qs = ok
      .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver's output capture keeps only the LAST 2000 chars of
    // stdout — a full-name per-query line is ~3.5 KB at 140+ queries,
    // so printing it cut its FRONT off and left the round's bench
    // unparseable ("parsed": null in BENCH_r05). stdout therefore
    // carries exactly ONE compact JSON line; the full-name map is
    // written to bench_latest.json (audit record), never printed.
    // Compact encoding: numeric query id ("q38" for "q38_dedup_corpus"
    // — ids are unique) at 2-decimal precision. If the suite grows the
    // line past the capture budget, drop the FASTEST queries first
    // (sub-noise timings; slow queries are the perf signal) and report
    // how many were omitted, so the line always fits and never loses
    // the queries a regression diff would care about.
    val failedShort = failed
      .map("\"" + _.takeWhile(_ != '_') + "\"").mkString("[", ",", "]")
    // Headline ETL path, tracked per round beside the query suite: the
    // query bench cannot see a regression in scrub-projection analysis
    // cost or bucketed-merge constants (VERDICT r6 #6). Fixed fixture
    // scale (100k patients / 200k observations, the r3 baseline shape:
    // 37.4s cold / 21.4s incremental) unless the full suite isn't
    // being run (dev subsets skip it) or SPARK_GRAFT_ETL_BENCH=0.
    val calMid = loadCal(cpus)
    System.err.println(f"[bench] load cal mid=$calMid%.2fs")
    // min-of-2 per ETL component: r7's recorded incr_s was 4.2× its
    // idle-host value (ambient load during the single sample); a second
    // sample tightens the min the same way the query loop's does
    val etlJson: String =
      if (args.nonEmpty || sys.env.get("SPARK_GRAFT_ETL_BENCH").contains("0"))
        ""
      else {
        try {
          val etlRuns =
            sys.env.getOrElse("SPARK_GRAFT_ETL_RUNS", "2").toInt
          val ts = (1 to math.max(1, etlRuns)).map { _ =>
            etlOnce(spark,
              sys.env.getOrElse("SPARK_GRAFT_ETL_PATIENTS", "100000").toInt,
              sys.env.getOrElse("SPARK_GRAFT_ETL_OBS", "200000").toInt)
          }
          val t = EtlTimes(ts.head.rows,
            ts.map(_.coldS).min, ts.map(_.incrS).min, ts.map(_.tinyS).min)
          System.err.println(f"[bench] etl cold=${t.coldS}%.1fs " +
            f"incr=${t.incrS}%.1fs tiny=${t.tinyS}%.1fs rows=${t.rows} " +
            s"(min of $etlRuns)")
          f""","etl":{"rows":${t.rows},"cold_s":${t.coldS}%.1f,"incr_s":${t.incrS}%.1f,"tiny_s":${t.tinyS}%.1f,"runs":$etlRuns}"""
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] etl bench failed: ${e.getMessage}")
            ",\"etl\":\"failed\""
        }
      }
    val calPost = loadCal(cpus)
    val avgPost = loadAvg()
    val (stealPost, totalPost) = cpuJiffies()
    val stealPct =
      if (totalPost > totalPre)
        100.0 * (stealPost - stealPre) / (totalPost - totalPre)
      else 0.0
    System.err.println(
      f"[bench] load cal post=$calPost%.2fs loadavg=$avgPost%.1f " +
        f"steal=$stealPct%.1f%%")
    // idle-host constant for this hardware is ~1.0s (documented in
    // PERF.md); cal values well above it flag ambient load, making the
    // artifact self-interpreting instead of silently distorted
    val loadJsonFull =
      f""","load":{"cal_pre_s":$calPre%.2f,"cal_mid_s":$calMid%.2f,"cal_post_s":$calPost%.2f,"loadavg_pre":$avgPre%.1f,"loadavg_post":$avgPost%.1f,"steal_pct":$stealPct%.1f}"""
    // compact twin for the printed line (same data, array-packed keys)
    val loadJson =
      f""","load":{"cal_s":[$calPre%.2f,$calMid%.2f,$calPost%.2f],"loadavg":[$avgPre%.1f,$avgPost%.1f],"steal_pct":$stealPct%.1f}"""
    def compactLine(entries: Seq[(String, Double)], omitted: Int): String = {
      // 1-decimal values: min-of-3 timings on this host carry >±0.1s of
      // ambient noise anyway, and the narrower entries are what let the
      // line carry ~150 queries instead of r10's 129
      val m = entries.sortBy(_._1)
        .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + f"""\":$v%.1f""" }
        .mkString("{", ",", "}")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","q_runs":$runs,"queries":$m,"q_omitted":$omitted,"failed":$failedShort$etlJson$loadJson,"sf":"$sfDir"}"""
    }
    // The driver captures only the LAST 2000 chars of output; sbt's
    // trailing "[success] ..." line costs ~80, leaving ~1900 — budget
    // 1850 with slack. 184 queries at 1-decimal need ~2180 chars, so
    // some must be omitted — but r10's "drop the FASTEST first" rotated
    // the omitted set with timing noise, and the PERF diff then reported
    // phantom dropped/new queries every round (VERDICT r10 item 2).
    // Omission is now DETERMINISTIC: this fixed list of floor-bound
    // queries (every one timed 0.3-0.7s in r9/r10 — job-scheduling
    // floor, not data; exactly the r10-omitted set, ordered fastest
    // first by the r9 artifact) is dropped from the front as needed.
    // The set printed is therefore stable run-to-run; the full map is
    // always in bench_latest.json. Fastest-first remains only as a
    // last-resort fallback if the suite ever outgrows the list.
    val floorBound = Seq(
      "q14_delete_ids", "q136_clf_score", "q66_range_count",
      "q109_bigram_lm", "q107_linear_attrib", "q45_char_quality",
      "q168_skyline", "q69_stratified", "q6_filter_agg",
      "q71_attribution", "q3_topk", "q4_semi_join", "q5_anti_join",
      "q7_window", "q8_setops", "q15_dedup_lastwins", "q16_outer_join",
      "q27_ngram_jaccard", "q32_label_centroids", "q35_simhash_md5",
      "q40_deid_scalars", "q41_checksum", "q42_check_system",
      "q43_partial_dates", "q44_anon_ids", "q46_quantize_i8",
      "q47_repetition", "q49_kmeans_assign", "q50_window_agg",
      "q54_contamination", "q57_source_mix", "q58_seq_pack",
      "q59_chunking", "q60_note_select", "q62_sample_notes",
      "q63_hash_sample", "q74_compress_ratio", "q78_attr_pairs",
      "q81_semantic_dedup", "q82_zorder", "q92_topk_agg", "q94_pivot",
      "q95_gapfill", "q97_fuzzy_names", "q99_weighted_sample",
      "q112_curriculum", "q114_manifest", "q115_normalize",
      "q129_drift", "q138_source_cap", "q147_compaction",
      "q163_k_anonymity", "q167_ab_test", "q178_train_shards",
      "q190_majority_vote")
    val okMap = ok.toMap
    val deterministic = (0 to floorBound.size).iterator
      .map { nOmit =>
        val omit = floorBound.take(nOmit).filter(okMap.contains).toSet
        compactLine(ok.filterNot(kv => omit.contains(kv._1)), omit.size)
      }
      .find(_.length <= 1850)
    val line = deterministic.getOrElse {
      val bySpeed = ok.sortBy(-_._2)
      (ok.size to 0 by -1).iterator
        .map(keep => compactLine(bySpeed.take(keep), ok.size - keep))
        .find(_.length <= 1850)
        .getOrElse(compactLine(Nil, ok.size))
    }
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", "bench_latest.json")),
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","q_runs":$runs,"queries":$qs,"failed":$failedJson$etlJson$loadJsonFull,"sf":"$sfDir"}""" + "\n")
    catch { case _: Exception => () } // read-only CWD is fine
    spark.stop()
  }
}
