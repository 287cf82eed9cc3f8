package perfbench

import graft.store.MerkonStore
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** One run of a workload: a day in the life of one store, from one client in
  * a closed loop (each call waits for the previous reply) on `local[4]`.
  *
  *  1. setup: load the seeded corpus into a fresh `MerkonStore`, seven
  *     times, each from its own copy of the input files (`setup_s` is the
  *     median load);
  *  2. cold `buildIndex` (`index_build_s`);
  *  3. warm-up reads, then, on `search`, `--seconds` of exact, indexed,
  *     filtered and point reads on the quiet store (`<op>_p50_ms`,
  *     `recall_at_10`);
  *  4. write waves: upsert new keys, remove live keys, reads beside the
  *     writes, `buildIndex` refresh (`refresh_p50_s`, `rw_read_p50_ms`,
  *     `ingest_rows_per_s`). `search` makes one insert/delete wave; `ingest`
  *     makes one, then an update wave (the full re-dump and rebuild path),
  *     and serves its whole read mix beside them, 1.5 reads per
  *     `--seconds` in each wave;
  *  5. maintenance: retire keys, `compact`, `compactIndex`, then
  *     `gcIndexCache(0)` (`space_amp`);
  *  6. `getNearestMatchesBatch` over a seeded query table (`batch_knn_qps`);
  *  7. one pass of the workload's `SparkEntry` entries in a fresh session
  *     (`pipeline_s`).
  *
  * Every answer is checked against the in-process brute force [[Oracle]];
  * `perfbench/WORKLOADS.md` has the sizes and the reasons. */
final class Workload(spark: SparkSession, o: Main.Opts) {
  private val Coll = "docs"
  private val Dim = 64
  private val CorpusRows = 10000
  private val WaveInserts = 500
  private val WaveDeletes = 50
  private val WaveUpdates = 200
  private val WaveReads = 12
  private val KnnQueries = 1000
  private val KnnK = 10
  private val Cores = 4
  private val WarmupSeconds = 2
  private val RetireKeys = 100
  private val KnnRepeats = 5
  private val SetupLoads = 7
  // the fixed SparkEntry entries, split between the workloads so each run
  // fits its time budget; every entry runs on one of them. The ANN entries
  // share set-up work within a session, so they run together, as in a
  // single pass over all eight
  private val SearchEntries = Seq("ann_indexed_family_pick", "ann_knn_join",
    "ann_recall_audit", "search_bm25_topk")
  private val IngestEntries = Seq("q5_nation_revenue", "dedup_fuzzy_levenshtein",
    "graph_pagerank", "dedup_jaccard_topk")
  private val AllEntries = SearchEntries ++ IngestEntries

  private val isSearch = o.workload match {
    case "search" => true
    case "ingest" => false
    case w => sys.error(s"unknown workload $w")
  }
  private val entries = if (isSearch) SearchEntries else IngestEntries

  private val tracer = new Tracer(spark, o.trace)
  private val corpus = new Corpus(o.seed, Dim, nClusters = 512, sigma = 0.12)
  private val rng = new java.util.Random(o.seed * 31 + 7)
  private val oracle = new Oracle(Dim)
  private val tmp = sys.props("java.io.tmpdir")
  private val dataDir = s"$tmp/data"
  private var store: MerkonStore = _
  // the records as of the last `buildIndex`: what the index snapshot holds
  private var snap: Oracle = _
  private var nextKey = 0

  // ---- bookkeeping ----

  private var attempted = 0L
  private var failed = 0L
  private var opId = 0L
  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private final class OpStat { var planNodes = 0L; var rows = 0L }
  private val opStats = mutable.HashMap.empty[String, OpStat]
  // the traced operations of each kind, by op id
  private val opsOf = mutable.HashMap.empty[String, mutable.Set[Long]]
  private var useIndexCalls, rewrittenCalls = 0
  private var recallHits = 0L
  private var recallDenom = 0L
  private var batchRecall = 0.0

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private def samples(k: String) = lat.getOrElseUpdate(k, mutable.ArrayBuffer.empty)
  private def ops(kind: String): collection.Set[Long] = opsOf.getOrElse(kind, Set.empty[Long])

  /** A new operation id, counted towards each of `kinds` in a traced run. */
  private def newOp(kinds: String*): Long = {
    opId += 1
    if (tracer.on) kinds.foreach(k => opsOf.getOrElseUpdate(k, mutable.Set.empty) += opId)
    opId
  }

  /** Count one checked operation; `failure` is the reason it was wrong. */
  private def check(what: String)(failure: => Option[String]): Unit = {
    attempted += 1
    val f = try failure catch { case e: Exception => Some(e.toString) }
    f.foreach { reason =>
      failed += 1
      if (failed <= 20) System.err.println(s"perfbench: WRONG $what: $reason")
    }
  }

  /** Timed closed-loop call of one DataFrame-returning store operation. In
    * a traced run a recorded call runs under spans (store construction,
    * Catalyst planning, Spark execution) and counts towards each of
    * `kinds`; warm-up and check-only calls (`record = false`) run plain and
    * feed no metric. */
  private def query(kinds: Seq[String], record: Boolean, useIndex: Boolean = false)(
      construct: => DataFrame): (Array[Row], Double) =
    if (!tracer.on || !record) {
      val t0 = System.nanoTime()
      val rows = construct.collect()
      (rows, ms(t0))
    } else {
      val op = newOp(kinds: _*)
      val t0 = System.nanoTime()
      val (df, rows) = tracer.span("bench", kinds.mkString("+"), op) {
        val df = tracer.span("store", "construct", op, s"store:$op")(construct)
        tracer.span("plans", "plan", op, s"plan:$op")(df.queryExecution.executedPlan)
        (df, tracer.span("exec", "exec", op, s"exec:$op")(df.collect()))
      }
      val wall = ms(t0)
      val nodes = df.queryExecution.analyzed.collect { case p => p }.size
      kinds.foreach { k =>
        val st = opStats.getOrElseUpdate(k, new OpStat)
        st.planNodes += nodes
        st.rows += rows.length
      }
      if (useIndex) {
        useIndexCalls += 1
        val plan = df.queryExecution.executedPlan.toString
        if (plan.contains("emb:array") || plan.contains("codes:array")) rewrittenCalls += 1
      }
      (rows, wall)
    }

  /** A timed store job (no result rows). */
  private def job[A](layerName: String, kind: String)(body: => A): (A, Double) = {
    val op = newOp(kind)
    val t0 = System.nanoTime()
    val a = tracer.span(layerName, kind, op, s"exec:$op")(body)
    (a, ms(t0) / 1e3)
  }

  // ---- inputs ----

  private def newRecords(n: Int): Seq[(String, String, Array[Float])] =
    Seq.fill(n) {
      val k = Corpus.key(nextKey); nextKey += 1
      (k, Corpus.Sources(rng.nextInt(Corpus.Sources.size)), corpus.member())
    }

  private def write(rows: Seq[(String, String, Array[Float])], dir: String): DataFrame = {
    Corpus.records(spark, rows, Cores).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  // ---- reads and their checks ----

  private sealed trait Read { def kind: String }
  private final case class Knn(kind: String, q: Array[Float], k: Int, floor: Double,
      slice: Set[String] = Set.empty) extends Read
  private final case class Get(keys: Seq[String]) extends Read { def kind = "get" }

  // the op mix: a fixed rotation of kinds, and per kind a fixed rotation of
  // (k, floor) or (point read, point read, 16-key batch), so every run
  // samples the same mixture; the seed picks the query vectors, keys and
  // slices. The slow variant (k = 100, the batch read) is a third of each
  // kind, so the median stays inside the fast variants' mode instead of
  // falling between two modes.
  private val Mix = Seq("exact", "indexed", "get", "exact", "indexed", "filtered",
    "exact", "indexed", "get", "filtered")
  private var mixPos = 0
  private val perKind = mutable.HashMap.empty[String, Int].withDefaultValue(0)

  /** Start the rotation again from its first read: every run then measures
    * the same sequence of kinds, k and floors, however many reads a timed
    * phase before it fitted. */
  private def restartMix(): Unit = { mixPos = 0; perKind.clear() }

  /** The next read of the mix. */
  private def nextRead(): Read = {
    val kind = Mix(mixPos % Mix.size); mixPos += 1
    val n = perKind(kind); perKind(kind) = n + 1
    val q = corpus.jitter(oracle.vector(oracle.randomLive(rng)))
    val k = Seq(1, 10, 100)(n % 3)
    val floor = if ((n / 3) % 2 == 0) 0.0 else 0.5
    kind match {
      case "filtered" => Knn(kind, q, k, floor,
        scala.util.Random.javaRandomToRandom(rng).shuffle(Corpus.Sources).take(2).toSet)
      case "get" if n % 3 != 2 => Get(Seq(oracle.randomLive(rng)))
      case "get" => Get(Seq.fill(16)(oracle.randomLive(rng)).distinct)
      case _ => Knn(kind, q, k, floor)
    }
  }

  /** Run, time and check one read. `tag` names the latency list and the
    * per-layer op; a read beside write wave `ofWave` (when >= 0) also
    * counts for its own kind, and its latency is kept per wave too. */
  private def read(r: Read, tag: String, record: Boolean = true, ofWave: Int = -1): Unit = {
    val ofKind = ofWave >= 0
    val kinds = if (ofKind) Seq(tag, r.kind) else Seq(tag)
    val result = try Right(r match {
      case Knn("exact", q, k, floor, _) =>
        query(kinds, record)(store.getNearestMatches(Coll, q, k, floor))
      case Knn(_, q, k, floor, slice) =>
        val p = if (slice.isEmpty) None
          else Some(col("metadata.external_source_name").isin(slice.toSeq: _*))
        query(kinds, record, useIndex = true)(store.getNearestMatches(Coll, q, k, floor,
          useIndex = true, predicate = p))
      case Get(Seq(key)) => query(kinds, record)(store.get(Coll, key))
      case Get(keys) => query(kinds, record)(store.getBatch(Coll, keys))
    }) catch { case e: Exception => Left(e) }
    result match {
      case Left(e) => check(s"${r.kind} read")(Some(e.toString))
      case Right((rows, wall)) =>
        if (record) kinds.foreach(k => samples(k) += wall)
        if (record && ofKind) samples(s"${r.kind}@$ofWave") += wall
        check(s"${r.kind} read")(r match {
          case Knn("exact", q, k, floor, _) => checkExact(rows, q, k, floor)
          case Knn("filtered", q, k, floor, slice) => checkFiltered(rows, q, k, floor, slice)
          case Knn(kind, q, k, floor, slice) =>
            val bad = commonChecks(scored(rows), q, k, floor, slice, approx = true)
            if (bad.isEmpty && kind == "indexed" && k >= 10 && record &&
                (tag == kind || ofKind)) {
              val truth = oracle.topK(q, 10, floor).map(_._1).toSet
              recallHits += rows.take(10).count(r => truth(r.getAs[String]("key")))
              recallDenom += truth.size
            }
            bad
          case Get(keys) => checkGet(rows, keys)
        })
    }
  }

  private def scored(rows: Array[Row]): IndexedSeq[(String, Double)] =
    rows.toIndexedSeq.map(r => (r.getAs[String]("key"), r.getAs[Double]("score")))

  /** The same scores rank by rank as `want` (keys may differ only between
    * rows whose scores under `truth` tie within [[Oracle.Tol]]). */
  private def sameRanks(got: IndexedSeq[(String, Double)], want: IndexedSeq[(String, Double)],
      q: Array[Float], truth: Oracle): Option[String] =
    if (got.length != want.length) Some(s"${got.length} rows, expected ${want.length}")
    else got.zip(want).zipWithIndex.collectFirst {
      case (((gk, gs), (wk, ws)), i) if math.abs(gs - ws) > Oracle.Tol ||
          (gk != wk && truth.scoreOf(gk, q).forall(s => math.abs(s - ws) > Oracle.Tol)) =>
        s"rank $i: got $gk@$gs, expected $wk@$ws"
    }

  /** Exact top-k: the brute force over the live records. */
  private def checkExact(rows: Array[Row], q: Array[Float], k: Int,
      floor: Double): Option[String] = {
    val got = scored(rows)
    sameRanks(got, oracle.topK(q, k, floor), q, oracle)
      .orElse(commonChecks(got, q, k, floor, Set.empty))
  }

  /** A filtered indexed read is exact over the index snapshot (the slice
    * semi-join keeps the probe rewrite out): the brute force over the
    * snapshot's vectors of the keys that are live and inside the slice. */
  private def checkFiltered(rows: Array[Row], q: Array[Float], k: Int, floor: Double,
      slice: Set[String]): Option[String] = {
    val got = scored(rows)
    sameRanks(got, snap.topK(q, k, floor, key => oracle.live(key) && slice(oracle.source(key))),
      q, snap).orElse(commonChecks(got, q, k, floor, slice, approx = true))
  }

  /** Every row live, in the slice, at or above the floor, carrying its exact
    * score (or, when `approx`, the score of the vector the index snapshot
    * holds: a key updated since the last `buildIndex` keeps its old vector
    * on the indexed path until the refresh, the store's documented snapshot
    * contract), no duplicates, in rank order. */
  private def commonChecks(got: IndexedSeq[(String, Double)], q: Array[Float], k: Int,
      floor: Double, slice: Set[String], approx: Boolean = false): Option[String] = {
    def exactScore(key: String, s: Double) =
      oracle.scoreOf(key, q).forall(e => math.abs(e - s) <= Oracle.Tol) ||
        (approx && snap.scoreOf(key, q).exists(e => math.abs(e - s) <= Oracle.Tol))
    if (got.length > k) return Some(s"${got.length} rows for k=$k")
    if (got.map(_._1).distinct.length != got.length) return Some("duplicate keys")
    got.sliding(2).collectFirst {
      case Seq((a, sa), (b, sb)) if sb > sa + Oracle.Tol || (math.abs(sa - sb) <= 0 && b < a) =>
        s"out of order: $a@$sa before $b@$sb"
    }.orElse(got.collectFirst {
      case (key, _) if !oracle.live(key) => s"$key is not live"
      case (key, s) if s < floor - Oracle.Tol => s"$key@$s below floor $floor"
      case (key, _) if slice.nonEmpty && !slice(oracle.source(key)) => s"$key outside slice"
      case (key, s) if !exactScore(key, s) =>
        s"$key@$s, exact score ${oracle.scoreOf(key, q).get}"
    })
  }

  private def checkGet(rows: Array[Row], keys: Seq[String]): Option[String] = {
    val got = rows.map(_.getAs[String]("key")).toSeq
    val want = keys.filter(oracle.live)
    if (got.sorted != want.sorted) Some(s"keys ${got.sorted} != ${want.sorted}")
    else rows.collectFirst {
      case r if r.getAs[Row]("metadata").getAs[String]("external_source_name") !=
          oracle.source(r.getAs[String]("key")) => s"metadata of ${r.getAs[String]("key")}"
    }
  }

  /** Every query of a batch result: `min(k, live keys)` rows (the probe
    * backfills past tombstoned keys), live keys with exact scores, ranks
    * 1..n in score order, no duplicates. `own` (when set) is the key each
    * query must find as its top-1. */
  private def checkBatch(rows: Array[Row], queries: IndexedSeq[Array[Float]], k: Int,
      own: IndexedSeq[String] = IndexedSeq.empty): Option[String] = {
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    val want = math.min(k, oracle.size)
    byQ.keys.find(q => q < 0 || q >= queries.length).map(q => s"unknown q_id $q")
      .orElse(queries.indices.find(i => byQ.get(i.toLong).fold(0)(_.length) != want)
        .map(i => s"q$i: ${byQ.get(i.toLong).fold(0)(_.length)} rows, expected $want"))
      .orElse(byQ.iterator.map { case (q, rs) =>
        val sorted = rs.sortBy(_.getAs[Int]("rank"))
        val ranks = sorted.map(_.getAs[Int]("rank")).toSeq
        if (ranks != (1 to ranks.length)) Some(s"q$q ranks $ranks")
        else commonChecks(scored(sorted), queries(q.toInt), k, Double.NegativeInfinity,
          Set.empty, approx = true).map(f => s"q$q: $f")
      }.collectFirst { case Some(f) => f })
      .orElse(own.indices.collectFirst {
        case i if !byQ.get(i.toLong).exists(rs =>
            rs.minBy(_.getAs[Int]("rank")).getAs[String]("key") == own(i)) =>
          s"q$i does not find its own vector ${own(i)} first"
      })
  }

  private def knnTable(queries: IndexedSeq[Array[Float]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      queries.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }, Cores),
      StructType(Seq(StructField("q_id", LongType), StructField("q_emb", ArrayType(FloatType)))))

  // ---- disk accounting ----

  /** Bytes of the regular files under `dirs`, each inode counted once (the
    * index append path hard-links unchanged files). */
  private def diskBytes(dirs: String*): Long = {
    val seen = mutable.HashSet.empty[Any]
    var total = 0L
    dirs.map(new java.io.File(_)).filter(_.exists).foreach { d =>
      java.nio.file.Files.walk(d.toPath).filter(java.nio.file.Files.isRegularFile(_))
        .forEach { p =>
          val a = java.nio.file.Files.readAttributes(p,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          if (seen.add(Option(a.fileKey).getOrElse(p.toString))) total += a.size
        }
    }
    total
  }
  private def cacheRoots = Seq(s"$tmp/graft-ivf", s"$tmp/graft-ivfpq")
  private def dumpRoot = s"$tmp/graft-store-index"

  // ---- phases ----

  private def setup(): Unit = {
    val rows = newRecords(CorpusRows)
    rows.foreach { case (k, s, v) => oracle.put(k, s, v) }
    // each load gets its own copy of the input, written and opened before
    // the clock starts: setup_s times only what the store does to make a
    // corpus queryable
    write(rows, s"$dataDir/corpus-0")
    val inputs = (0 until SetupLoads).map { i =>
      if (i > 0) copyDir(s"$dataDir/corpus-0", s"$dataDir/corpus-$i")
      spark.read.parquet(s"$dataDir/corpus-$i")
    }
    val loads = inputs.map { input =>
      val t0 = System.nanoTime()
      val st = new MerkonStore(spark)
      st.upsertBatch(Coll, input)
      val n = st.getAll(Coll, withEmbeddings = false).count()
      val s = ms(t0) / 1e3
      check("setup load")(if (n == CorpusRows) None else Some(s"$n rows loaded"))
      store = st
      s
    }
    (0 until SetupLoads - 1).foreach(i => deleteDir(s"$dataDir/corpus-$i"))
    e2e("setup_s") = (median(loads), "s")
  }

  private def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).forEach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)))
    }
  }

  private def deleteDir(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def coldBuild(): Unit = {
    val (_, s) = job("ml", "build")(store.buildIndex(Coll))
    snap = oracle.snapshot()
    e2e("index_build_s") = (s, "s")
    val stats = store.indexStats(Coll).filter(col("family") === "ivf").collect()
    check("indexStats after build")(
      if (stats.length == 1 && stats.head.getAs[Long]("rows") == CorpusRows) None
      else Some(stats.mkString(";")))
    stats.headOption.foreach { r =>
      layer("ml.n_centroids") = (r.getAs[Int]("n_centroids").toDouble, "count")
      layer("ml.n_probe") = (r.getAs[Int]("n_probe").toDouble, "count")
    }
  }

  private def onlineReads(): Unit = {
    // unmeasured reads first, until code generation and JIT settle (the
    // first few calls of each kind run up to twice as long)
    val warm = System.nanoTime() + WarmupSeconds * 1000000000L
    while (System.nanoTime() < warm) { val r = nextRead(); read(r, r.kind, record = false) }
    restartMix()
    // search serves its read mix on the quiet store; ingest serves it beside
    // the write waves
    val end = System.nanoTime() + o.seconds * 1000000000L
    while (isSearch && System.nanoTime() < end) {
      val r = nextRead()
      read(r, r.kind)
    }
  }

  private var upsertS, removeS, refreshS = 0.0
  private var rowsUpserted = 0L
  private val refreshes = mutable.ArrayBuffer.empty[Double]
  private val dumpWritten = mutable.ArrayBuffer.empty[Double]
  private val indexWritten = mutable.ArrayBuffer.empty[Double]

  /** One write wave; `updates` existing keys get new vectors. */
  private def wave(w: Int, updates: Int): Unit = {
    val inserted = newRecords(WaveInserts)
    val updated = Seq.fill(updates)(oracle.randomLive(rng)).distinct.map { k =>
      (k, oracle.source(k), corpus.member())
    }
    val batch = write(inserted ++ updated, s"$dataDir/wave-$w")
    val (_, up) = job("store", "upsert")(store.upsertBatch(Coll, batch))
    (inserted ++ updated).foreach { case (k, s, v) => oracle.put(k, s, v) }
    val fresh = inserted.map(_._1).toSet
    val gone = Iterator.continually(oracle.randomLive(rng)).filterNot(fresh)
      .distinct.take(WaveDeletes).toSeq
    val goneVecs = gone.map(oracle.vector)
    val (_, rm) = job("store", "remove")(store.removeBatch(Coll, gone))
    gone.foreach(oracle.remove)

    // reads beside the writes: an inserted vector is its own exact top-1
    // at once, and a deleted vector's own key never comes back
    read(Knn("exact", inserted.head._3, 1, 0.0), "rw_read")
    read(Knn("indexed", goneVecs.head, 10, 0.0), "rw_read")
    // ingest serves its whole read mix beside the writes: a fixed number
    // per wave, so every run samples each wave's state alike
    if (isSearch) { restartMix(); (2 until WaveReads).foreach(_ => read(nextRead(), "rw_read")) }
    else (0 until o.seconds * 3 / 2).foreach(_ => read(nextRead(), "rw_read", ofWave = w))

    val d0 = if (tracer.on) diskBytes(dumpRoot) else 0L
    val i0 = if (tracer.on) diskBytes(cacheRoots: _*) else 0L
    val (_, rf) = job("ml", "refresh")(store.buildIndex(Coll))
    snap = oracle.snapshot()
    if (tracer.on) {
      dumpWritten += (diskBytes(dumpRoot) - d0).toDouble
      indexWritten += (diskBytes(cacheRoots: _*) - i0).toDouble
    }
    refreshes += rf
    upsertS += up; removeS += rm; refreshS += rf
    rowsUpserted += inserted.size + updated.size

    // after the refresh every inserted vector is its own indexed top-1
    val vecs = inserted.map(_._3).toIndexedSeq
    check("refresh makes inserts searchable")(checkBatch(
      store.getNearestMatchesBatch(Coll, knnTable(vecs), 1).collect(), vecs, 1,
      inserted.map(_._1).toIndexedSeq))
  }

  private def writeWaves(): Unit = {
    wave(0, 0)
    if (!isSearch) wave(1, WaveUpdates)
    e2e("refresh_p50_s") = (median(refreshes), "s")
    e2e("ingest_rows_per_s") = (rowsUpserted / (upsertS + removeS + refreshS), "1/s")
    e2e("rw_read_p50_ms") = (median(lat("rw_read")), "ms")
  }

  private def maintenance(): Unit = {
    val artifacts = cacheRoots.map(new java.io.File(_)).flatMap(d =>
      Option(d.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith(".")))
    // retire a fixed number of keys, then compact the collection and fold
    // the dead rows into the index. Both jobs are disk-bound and varied 2x
    // between runs, so they are reported per layer, not as a bounded
    // end-to-end metric
    val retired = Iterator.continually(oracle.randomLive(rng)).distinct
      .take(RetireKeys).toSeq
    job("store", "remove")(store.removeBatch(Coll, retired))
    retired.foreach(oracle.remove)
    val dead = store.indexStats(Coll).filter(col("family") === "ivf")
      .collect().headOption.map(_.getAs[Double]("dead_fraction")).getOrElse(0.0)
    val (_, c) = job("store", "compact")(store.compact(Coll))
    val (_, ci) = job("ml", "compact_index")(store.compactIndex(Coll))
    // the cache sweep's time is mostly file deletion (0.1-9 s between runs)
    val (_, g) = job("ml", "gc")(store.gcIndexCache(0))
    layer("ml.compact_ms") = ((c + ci) * 1e3, "ms")
    layer("ml.gc_ms") = (g * 1e3, "ms")
    layer("ml.dead_fraction") = (dead, "ratio")
    layer("ml.artifacts") = (artifacts.size.toDouble, "count")
    layer("ml.compact_index_ms") = (ci * 1e3, "ms")
    // bytes under the store's source files, the dump and the cache roots,
    // per byte of live user data (key, metadata strings, vector, timestamp)
    val live = oracle.liveKeys.map(k =>
      2L * k.length + oracle.source(k).length + s"text of $k".length + 1 + 4 * Dim + 8).sum
    e2e("space_amp") = (diskBytes(dataDir +: dumpRoot +: cacheRoots: _*).toDouble / live, "ratio")
    // reads after maintenance still answer correctly
    read(Knn("exact", corpus.jitter(oracle.vector(oracle.randomLive(rng))), 10, 0.0),
      "exact", record = false)
    read(Knn("indexed", corpus.jitter(oracle.vector(oracle.randomLive(rng))), 10, 0.0),
      "indexed", record = false)
  }

  private def batchKnn(): Unit = {
    val queries = IndexedSeq.fill(KnnQueries)(corpus.jitter(oracle.vector(oracle.randomLive(rng))))
    val table = knnTable(queries)
    // the first call warms the path and is checked but not timed; a traced
    // run also measures its recall against the brute force
    val walls = (0 to KnnRepeats).map { i =>
      val (rows, wall) = query(Seq("batch_knn"), record = i > 0)(
        store.getNearestMatchesBatch(Coll, table, KnnK))
      check("batch knn")(checkBatch(rows, queries, KnnK))
      if (i == 0 && tracer.on) {
        val got = rows.groupBy(_.getAs[Long]("q_id"))
          .map { case (q, rs) => q -> rs.map(_.getAs[String]("key")).toSet }
        batchRecall = queries.indices.map { q =>
          val truth = oracle.topK(queries(q), KnnK, Double.NegativeInfinity).map(_._1)
          truth.count(got.getOrElse(q.toLong, Set.empty[String])).toDouble / truth.size
        }.sum / queries.size
      }
      wall
    }.tail
    e2e("batch_knn_qps") = (KnnQueries / (median(walls) / 1e3), "1/s")
  }

  private def pipeline(): Unit = {
    val s = spark.newSession()
    val shared0 = graft.util.SharedBuilds.snapshot.values.sum
    val expected = Pipeline.load(o.expected)
    val got = mutable.LinkedHashMap.empty[String, (Long, String)]
    val t0 = System.nanoTime()
    entries.foreach { name =>
      val op = newOp()
      val r = tracer.span("queries", name, op) {
        val df = tracer.span("queries", s"construct:$name", op, s"q:$name:construct")(
          graft.SparkEntry.queries(name)(s, o.data))
        if (tracer.on)
          tracer.span("plans", s"plan:$name", op, s"q:$name:plan")(df.queryExecution.executedPlan)
        tracer.span("exec", s"exec:$name", op, s"q:$name:exec")(Pipeline.countAndHash(df))
      }
      got(name) = r
    }
    e2e("pipeline_s") = (ms(t0) / 1e3, "s")
    layer("util.shared_build_s") = (graft.util.SharedBuilds.snapshot.values.sum - shared0, "s")
    got.foreach { case (name, (n, h)) =>
      check(s"pipeline $name")(expected.get(name) match {
        case Some((en, eh)) if en == n && eh == h => None
        case e => Some(s"rows=$n hash=$h, recorded $e")
      })
    }
  }

  // ---- metrics ----

  private def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  private def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) return 0.0
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  private def readMetrics(): Unit = {
    // beside the writes each wave's reads see another store state (reads
    // slow down as waves pile up), so there a kind's p50 is the mean of its
    // per-wave medians: a pooled median falls between the waves' modes
    def p50(k: String) =
      if (isSearch) median(lat(k))
      else {
        val waves = lat.keys.filter(_.startsWith(s"$k@")).toSeq
        waves.map(w => median(lat(w))).sum / waves.size
      }
    Seq("exact", "indexed").foreach { k =>
      e2e(s"${k}_p50_ms") = (p50(k), "ms")
      // a run holds about 20 samples of each, fewer than the 200 a p95 needs
      // to have ten beyond it, so the p95 is a per-layer tail indicator
      layer(s"bench.${k}_p95_ms") = (quantile(lat(k), 0.95), "ms")
    }
    e2e("filtered_p50_ms") = (p50("filtered"), "ms")
    e2e("get_p50_ms") = (p50("get"), "ms")
    e2e("recall_at_10") = (recallHits.toDouble / math.max(1L, recallDenom), "ratio")
  }

  private val DfOps = Seq("exact", "indexed", "filtered", "get", "rw_read", "batch_knn")
  private val AllOps = DfOps.take(5) ++ Seq("refresh", "build", "batch_knn")

  private def layerMetrics(): Unit = {
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    DfOps.foreach { k =>
      val st = opStats.getOrElse(k, new OpStat)
      val n = math.max(1, ops(k).size)
      layer(s"store.construct_ms.$k") = (tracer.meanOf("store", "construct", ops(k))._1, "ms")
      layer(s"store.plan_nodes.$k") = (st.planNodes.toDouble / n, "count")
      val (planMs, planFs) = tracer.meanOf("plans", "plan", ops(k))
      layer(s"plans.plan_ms.$k") = (planMs, "ms")
      layer(s"plans.fs_ops.$k") = (planFs, "count")
    }
    layer("plans.rewrite_frac") = (rewrittenCalls.toDouble / math.max(1, useIndexCalls), "ratio")
    layer("store.upsert_ms") = (tracer.meanOf("store", "upsert")._1, "ms")
    layer("store.remove_ms") = (tracer.meanOf("store", "remove")._1, "ms")
    layer("store.dump_bytes_written") = (mean(dumpWritten), "bytes")
    layer("ml.index_bytes_written") = (mean(indexWritten), "bytes")
    AllOps.foreach { k =>
      val a = tracer.counts(ops(k).map(op => s"exec:$op"))
      val wallMs = k match {
        case "refresh" | "build" => tracer.meanOf("ml", k)._1
        case _ => tracer.meanOf("exec", "exec", ops(k))._1
      }
      val per = math.max(1, ops(k).size).toDouble
      layer(s"exec.ms.$k") = (wallMs, "ms")
      layer(s"exec.jobs.$k") = (a.jobs.get / per, "count")
      layer(s"exec.tasks.$k") = (a.tasks.get / per, "count")
      layer(s"exec.task_cpu_ms.$k") = (a.cpuNs.get / 1e6 / per, "ms")
      layer(s"exec.busy_frac.$k") =
        (if (wallMs > 0) a.runMs.get / per / (wallMs * Cores) else 0.0, "ratio")
      layer(s"exec.shuffle_bytes.$k") = (a.shuffleBytes.get / per, "bytes")
      if (k != "refresh" && k != "build") {
        val rows = opStats.get(k).map(_.rows).getOrElse(0L)
        layer(s"exec.rows_read_per_result.$k") =
          (a.recordsRead.get.toDouble / math.max(1L, rows), "ratio")
      }
    }
    AllEntries.foreach { q =>
      layer(s"queries.$q.construct_ms") = (tracer.meanOf("queries", s"construct:$q")._1, "ms")
      layer(s"queries.$q.plan_ms") = (tracer.meanOf("plans", s"plan:$q")._1, "ms")
      layer(s"queries.$q.exec_ms") = (tracer.meanOf("exec", s"exec:$q")._1, "ms")
    }
    val q = tracer.countsWithPrefix("q:")
    layer("queries.jobs") = (q.jobs.get.toDouble, "count")
    layer("queries.task_cpu_ms") = (q.cpuNs.get / 1e6, "ms")
    layer("jvm.heap_peak_mb") = (Jvm.heapPeakMb, "MB")
    layer("jvm.gc_ms") = (Jvm.gcMs - gc0, "ms")
    val self = tracer.selfMs()
    Seq("store", "plans", "exec", "ml", "queries").foreach { l =>
      layer(s"trace.self_ms.$l") = (self.getOrElse(l, 0.0), "ms")
    }
    val idxSelf = tracer.selfMs(ops("indexed"))
    val idxWall = tracer.rootMs(ops("indexed"))
    layer("trace.accounted_frac.indexed") = (if (idxWall > 0)
      Seq("store", "plans", "exec").map(idxSelf.getOrElse(_, 0.0)).sum / idxWall else 0.0, "ratio")
    layer("bench.batch_recall_at_10") = (batchRecall, "ratio")
  }

  private var gc0 = 0L

  private def phase(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    System.err.println(f"perfbench: $name%-12s ${ms(t0) / 1e3}%7.2f s  ($attempted checked, $failed wrong)")
  }

  /** Runs every phase and returns the result object as JSON. */
  def run(): String = {
    Jvm.resetPeaks()
    gc0 = Jvm.gcMs
    phase("setup")(setup())
    phase("build")(coldBuild())
    phase("reads")(onlineReads())
    phase("waves")(writeWaves())
    phase("maintenance")(maintenance())
    phase("batch knn")(batchKnn())
    phase("pipeline")(pipeline())
    readMetrics()
    System.err.println("perfbench: samples " +
      lat.map { case (k, v) => s"$k=${v.size}" }.mkString(" "))
    val metrics =
      if (!tracer.on) e2e
      else {
        layerMetrics()
        val summary = Json.obj(Seq(
          "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
          "self_ms" -> Json.obj(tracer.selfMs().toSeq.sortBy(_._1)
            .map { case (k, v) => k -> Json.num(v) }),
          "end_to_end" -> Json.metrics(e2e),
          "samples" -> Json.obj(lat.toSeq.map { case (k, v) => k -> v.size.toString })))
        tracer.write(s"${o.traces}/${o.workload}-seed${o.seed}.jsonl", summary)
        layer
      }
    Json.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.metrics(metrics)))
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Sum of each heap pool's peak since [[resetPeaks]]. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

object Json {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"metric is not a number: $d") else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metrics(m: collection.Map[String, (Double, String)]): String =
    obj(m.toSeq.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
