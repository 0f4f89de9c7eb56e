package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.PerfbenchListenerBus
import org.apache.spark.sql.SparkSession

/** The benchmark's program. One closed-loop client runs one workload on a
  * `local[N]` session (N = available cores) and writes the run record to
  * `--out`; `perfbench/run.py` builds it, runs it and prints the result.
  *
  *   --workload dag|queries  --seed n  --seconds s  --trace 0|1
  *   --data dir      sources for dag and the relational entries
  *   --corpus dir    sources for the corpus entries
  *   --work dir      scratch space (project, warehouses, Spark local dir)
  *   --out file      run record
  *   --inputs file   expected input fingerprints, by input name
  *   --fingerprints file   expected entry output fingerprints, by input name
  *   --data-name / --corpus-name   the inputs' names in those files
  *   --entries a,b   override the workload's entry list
  *   --record file   instead of measuring, write the input fingerprint and
  *                   the output fingerprint of every entry of --families
  *                   (family prefixes, default all) for --data
  */
object Main {
  /** Seconds one cycle takes on a 4-core host. A run measures `--seconds`
    * divided by this many whole cycles, so every commit does the same work
    * and JIT warm-up shapes every run alike.
    */
  val NominalCycleS = Map("dag" -> 6.0, "queries" -> 11.0)
  val EditClosure = 3
  val DagModels = 24

  /** The entries the queries workload times: from every family of
    * `QueryWorkload.Families`, `DrawShare` of its entries (at least two),
    * the first ones after a shuffle with the fixed `DrawSeed`. Every run
    * times the same entries; `--seed` only orders them.
    */
  val DrawShare = 0.25
  val DrawSeed = 1L

  def drawEntries(): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(n => QueryWorkload.Families.contains(n.head))
      .groupBy(_.head).toSeq.sortBy(_._1).flatMap { case (_, ns) =>
        new scala.util.Random(DrawSeed).shuffle(ns).take(math.max(2, math.round(ns.size * DrawShare).toInt))
      }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    try {
      if (opts.contains("record")) record(opts)
      else run(opts)
    } catch {
      case e: InputMismatch =>
        System.err.println(s"[perfbench] input mismatch: ${e.getMessage}")
        sys.exit(3)
    }
    sys.exit(0)
  }

  private val cores = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val spark = GraftSession.builder("perfbench", s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.init(spark)
    spark
  }

  private val KeyExpr = Map("region" -> "r_regionkey", "nation" -> "n_nationkey", "customer" -> "c_custkey",
    "supplier" -> "s_suppkey", "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey * 10 + l_linenumber", "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  /** Row count and key sum of every source table, read through `Tables`. */
  def inputFingerprint(spark: SparkSession, dir: String): Map[String, Seq[Long]] = {
    val t = Tables(spark, dir)
    t.register(Tables.SourceNames)
    Tables.SourceNames.map { n =>
      val r = spark.sql(s"SELECT COUNT(*), CAST(SUM(${KeyExpr(n)}) AS BIGINT) FROM $n").collect().head
      n -> Seq(r.getLong(0), r.getLong(1))
    }.toMap
  }

  private def readJson(path: String): JsonNode = new ObjectMapper().readTree(new File(path))

  private def checkInput(spark: SparkSession, dir: String, inputs: JsonNode, name: String): Unit = {
    val want = inputs.get(name)
    Util.require(want != null, s"no fingerprint for input $name")
    val got = inputFingerprint(spark, dir)
    for ((t, v) <- got) {
      val w = want.get(t)
      Util.require(w != null && w.get(0).asLong == v(0) && w.get(1).asLong == v(1),
        s"$name/$t: rows and key sum $v, expected $w")
    }
  }

  private def expectedOutputs(fp: JsonNode, input: String): Map[String, (Long, String)] =
    Option(fp.get(input)).map(_.fields().asScala.map(e =>
      e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)).toMap).getOrElse(Map.empty)

  /** Writes the input fingerprint and every entry's output fingerprint. */
  def record(o: Map[String, String]): Unit = {
    val spark = session(o("work"))
    val dir = o("data")
    val inputs = inputFingerprint(spark, dir)
    val families = o.getOrElse("families", SparkEntry.queries.keys.map(_.head).mkString)
    val names = o.get("entries").map(_.split(',').toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted.filter(n => families.contains(n.head)))
    val outputs = names.flatMap { n =>
      try {
        val fp = Fingerprint.of(SparkEntry.queries(n)(spark, dir))
        spark.catalog.clearCache()
        Some(n -> Seq(fp._1, fp._2))
      } catch { case NonFatal(e) => Util.warn(s"$n failed: $e"); None }
    }.toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("record")),
      Json(Map("inputs" -> inputs, "outputs" -> outputs)))
    spark.stop()
  }

  final case class OpRec(op: Int, kind: String, cycle: Int, startMs: Long, endMs: Long, seconds: Double, ok: Boolean)

  def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = o("work")
    val inputs = readJson(o("inputs"))
    val isDag = workload == "dag"
    Util.require(isDag || workload == "queries", s"unknown workload $workload")
    val (data, corpus) = (o("data"), o("corpus"))
    val tracer = new Tracer(traced)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // relational entries read the sf0.01 tables, the corpus entries its scaled copy
    val entryInputs = o.get("entries").map(_.split(',').toSeq).getOrElse(drawEntries())
      .map(n => n -> (if (n.head == 'q') (data, o("data-name")) else (corpus, o("corpus-name")))).toMap
    val usedInputs = if (isDag) Map(data -> o("data-name")) else entryInputs.values.toMap

    // set-up, timed from JVM start to the first measured op: session,
    // input fingerprints, workload preparation and the warm-up cycle
    Util.deleteRecursively(new File(work))
    val spark = session(work)
    usedInputs.foreach { case (dir, name) => checkInput(spark, dir, inputs, name) }
    val dag = if (!isDag) null else {
      val d = new DagWorkload(spark, tracer, data, s"$work/dag", new DagProject(seed, DagModels), EditClosure)
      d.prepare()
      d
    }
    val queries = if (isDag) null else {
      val fp = readJson(o("fingerprints"))
      new QueryWorkload(spark, tracer, entryInputs.map { case (n, (dir, _)) => n -> dir },
        entryInputs.flatMap { case (n, (_, input)) => expectedOutputs(fp, input).get(n).map(n -> _) }, seed)
    }
    val counters = new SparkCounters
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }

    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    var cycle = 0
    val recorder = new Recorder {
      def apply[T](kind: String)(body: => T)(check: T => Boolean): T = {
        tracer.op += 1
        val ms0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val r = try Right(tracer.span(s"op.$kind")(body)) catch { case NonFatal(e) => Left(e) }
        val secs = (System.nanoTime() - t0) / 1e9
        val ms1 = System.currentTimeMillis()
        val ok = r match {
          case Right(v) => try check(v) catch { case NonFatal(e) => Util.warn(s"$kind check: $e"); false }
          case Left(e) => Util.warn(s"$kind failed: $e"); false
        }
        if (!ok) Util.warn(s"op $kind (cycle $cycle) gave a wrong output")
        ops += OpRec(tracer.op, kind, cycle, ms0, ms1, secs, ok)
        r.fold(e => throw e, identity)
      }
    }
    // an op that throws is recorded as failed; the cycle it broke ends there
    def oneCycle(verify: Boolean): Unit =
      try if (isDag) dag.cycle(recorder, checkFork = verify) else queries.pass(recorder, verify)
      catch { case e: Exception if !e.isInstanceOf[InputMismatch] => Util.warn(s"cycle $cycle stopped: $e") }

    // warm-up: one cycle, which also checks every output in full and, traced,
    // the traced dag commands against GraftCli.execute
    val w0 = System.nanoTime()
    oneCycle(verify = true)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val cycleWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    for (_ <- 1 to math.max(1, (seconds / NominalCycleS(workload)).toInt)) {
      cycle += 1
      val c0 = System.nanoTime()
      oneCycle(verify = false)
      cycleWalls += (System.nanoTime() - c0) / 1e9
    }
    val measuredS = elapsed
    val measured = ops.filter(_.cycle > 0).toSeq
    val lat = measured.map(_.seconds)
    val warmFailed = ops.count(r => r.cycle == 0 && !r.ok)
    val failed = measured.count(!_.ok)

    val e2e = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Util.peakRssMb(),
      "ops_per_s" -> measured.size / cycleWalls.sum)
    val layers = if (!traced) Map.empty[String, Double] else {
      PerfbenchListenerBus.drain(spark.sparkContext)
      perLayer(spark, tracer, counters, measured, cycle, dag, queries, corpus)
    }
    val byKind = measured.groupBy(_.kind).map { case (k, rs) =>
      k -> Map("n" -> rs.size, "median_s" -> Util.median(rs.map(_.seconds)), "failed" -> rs.count(!_.ok))
    }
    val tail = (1 to 99).reverse.find(p => lat.count(_ > Util.percentile(lat, p)) >= 10)
    val recordOut = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "inputs" -> usedInputs.values.toSeq.sorted,
      "correct" -> (failed == 0 && warmFailed == 0), "attempted" -> measured.size, "failed" -> failed,
      "failed_frac" -> failed.toDouble / measured.size,
      "end_to_end" -> e2e, "per_layer" -> layers,
      "samples" -> lat.size, "cycles" -> cycle, "cycle_s" -> cycleWalls.toSeq, "measured_s" -> measuredS,
      "warmup_s" -> warmupS, "warmup_failed" -> warmFailed,
      "tail_percentile_with_10_beyond" -> tail.getOrElse(0),
      // ungated: too noisy on dag to gate (see layers.json)
      "op_p50_s" -> Util.median(lat), "op_p90_s" -> Util.percentile(lat, 90),
      "by_kind" -> byKind,
      // traced queries runs: each family's share of entry time and jobs, and its core utilisation
      "families" -> (if (!traced || queries == null) Map.empty else {
        val totalS = lat.sum
        val totalJobs = counters.within(measured.map(r => (r.startMs, r.endMs))).jobs.toDouble
        measured.groupBy(r => queries.family(r.kind)).map { case (f, rs) =>
          val c = counters.within(rs.map(r => (r.startMs, r.endMs)))
          val wall = rs.map(r => (r.endMs - r.startMs) / 1e3).sum
          f -> Map("entries" -> rs.map(_.kind).distinct.size, "time_share" -> rs.map(_.seconds).sum / totalS,
            "job_share" -> c.jobs / totalJobs, "core_util" -> c.taskRunS / (wall * cores))
        }
      }),
      "host" -> Map("cores" -> cores, "local" -> s"local[$cores]", "shuffle_partitions" -> cores,
        "spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq),
      "ops" -> ops.map { r =>
        val base = Map("op" -> r.op, "kind" -> r.kind, "cycle" -> r.cycle, "s" -> r.seconds, "ok" -> r.ok)
        if (traced) base + ("spark" -> counters.within(Seq((r.startMs, r.endMs)))) else base
      }.toSeq,
      "span_self_s_per_cycle" -> (if (!traced) Map.empty else {
        val measuredSpans = tracer.all.filter(s => measured.exists(_.op == s.op))
        val self = Tracer.selfSeconds(measuredSpans)
        measuredSpans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / cycle }
      }),
      "spans" -> (if (traced) tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)) else Nil))
    spark.stop()
    Util.deleteRecursively(new File(work))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")), Json(recordOut))
  }

  /** Per-layer metrics of the measured cycles. Sums are per cycle: one
    * dag lifecycle, or one pass over the workload's entries.
    */
  def perLayer(spark: SparkSession, tracer: Tracer, counters: SparkCounters, measured: Seq[OpRec],
               cycles: Int, dag: DagWorkload, queries: QueryWorkload, input: String): Map[String, Double] = {
    val opIds = measured.map(_.op).toSet
    val spans = tracer.all.filter(s => opIds(s.op))
    def named(name: String) = spans.filter(_.name == name)
    def sumS(name: String) = named(name).map(_.seconds).sum / cycles
    def jobsIn(name: String) = counters.within(named(name).map(s => (tracer.epochMs(s.startNs), tracer.epochMs(s.endNs)))).jobs
    val c = counters.within(measured.map(r => (r.startMs, r.endMs)))
    val wall = measured.map(r => (r.endMs - r.startMs) / 1e3).sum

    val sparkLayer = Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble, "spark.tasks" -> c.tasks.toDouble,
      "spark.driver_gap_s" -> (wall - c.busyS), "spark.plan_ms" -> c.planMs, "spark.task_run_s" -> c.taskRunS,
      "spark.task_cpu_s" -> c.taskCpuS, "spark.gc_s" -> c.gcS,
      "spark.shuffle_write_mb" -> c.shuffleWriteMb, "spark.shuffle_read_mb" -> c.shuffleReadMb,
      "spark.fetch_wait_s" -> c.fetchWaitS, "spark.spill_mb" -> c.spillMb, "spark.input_mb" -> c.inputMb,
      "spark.output_mb" -> c.outputMb, "caching.persist_blocks" -> c.persistBlocks.toDouble,
      "caching.persist_mb" -> c.persistMb, "plans.topk_nodes" -> c.graftNodes.toDouble
    ).map { case (k, v) => k -> v / cycles } + ("spark.core_util" -> c.taskRunS / (wall * cores))

    val modelLayer = {
      val mat = if (dag == null) Nil else dag.materialized.asScala.toSeq.filter(m => opIds(m.op))
      val matS = mat.map(_.seconds).sum
      val runWall = named("model.run").map(_.seconds).sum
      // per build and level: the level's wall minus its longest model
      val barrier = mat.groupBy(m => (m.op, m.level)).values.map { ls =>
        (ls.map(_.endNs).max - ls.map(_.startNs).min) / 1e9 - ls.map(_.seconds).max
      }.sum
      val reattached = if (dag == null) 0 else dag.reattached.filter(r => opIds(r._1)).map(_._2).sum
      val rebuilds = if (dag == null) Nil else dag.rebuilds.filter(r => opIds(r._1))
      val rebuilt = rebuilds.map(_._2).sum
      def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
      Map(
        "model.parse_s" -> sumS("model.parse"), "model.deps_s" -> sumS("model.deps"),
        "model.analyze_ms_per_model" -> (if (dag == null) 0.0 else sumS("model.analyze") * 1000 / dag.models),
        "model.materialize_s" -> matS / cycles,
        "model.materialize_jobs_per_table" -> ratio(jobsIn("model.run"), mat.size),
        "model.level_parallelism" -> ratio(matS, runWall),
        "model.level_barrier_s" -> barrier / cycles,
        "model.reattach_s" -> sumS("model.reattach"),
        "model.reattach_jobs_per_table" -> ratio(jobsIn("model.reattach"), reattached),
        "model.manifest_s" -> sumS("model.manifest"), "model.select_s" -> sumS("model.select"),
        "model.assert_s" -> sumS("model.assert"), "model.rebuilt" -> rebuilt.toDouble / cycles,
        "model.rebuild_useful_ratio" -> ratio(rebuilds.map(_._3).sum, rebuilt),
        "cli.register_sources_s" -> sumS("cli.register_sources"))
    }

    val entryLayer = {
      val byFamily = if (queries == null) Map.empty[String, Seq[OpRec]] else measured.groupBy(r => queries.family(r.kind))
      QueryWorkload.Families.values.toSeq.flatMap { f =>
        val rs = byFamily.getOrElse(f, Nil)
        Seq(s"${f}_s" -> rs.map(_.seconds).sum / cycles,
          s"${f}_jobs" -> counters.within(rs.map(r => (r.startMs, r.endMs))).jobs.toDouble / cycles)
      }.toMap ++ Map("query.build_s" -> sumS("query.build"), "query.action_s" -> sumS("query.action"))
    }

    sparkLayer ++ modelLayer ++ entryLayer ++ Functions.rowsPerSecond(spark, input)
  }
}

/** Rows per second of graft's registered SQL functions over the input's
  * documents and embeddings, repeated `Copies` times and held in memory so
  * the calls, not the job floor, dominate; median of five calls each.
  */
object Functions {
  private val Copies = 20
  private val Calls = Seq(
    "functions.minhash_sig_rows_per_s" -> ("bench_tokens", "minhash_sig(tokens)"),
    "functions.simhash64_rows_per_s" -> ("bench_tokens", "simhash64(tokens)"),
    "functions.sha_minhash_rows_per_s" -> ("bench_tokens", "sha_minhash(tokens)"),
    "functions.dot_product_rows_per_s" -> ("bench_vectors", "dot_product(v, v)"))

  def rowsPerSecond(spark: SparkSession, input: String): Map[String, Double] = {
    val t = Tables(spark, input)
    val copies = spark.range(Copies).toDF("copy")
    val frames = Seq(
      t.documents.crossJoin(copies).selectExpr("split(text, ' ') AS tokens").cache() -> "bench_tokens",
      t.embeddings.crossJoin(copies).selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS v").cache() -> "bench_vectors")
    val rows = frames.map { case (df, name) => df.createOrReplaceTempView(name); name -> df.count() }.toMap
    val out = Calls.map { case (metric, (table, call)) =>
      val q = spark.sql(s"SELECT SUM(hash($call)) FROM $table")
      q.collect()
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); q.collect(); (System.nanoTime() - t0) / 1e9
      }
      metric -> rows(table) / Util.median(times)
    }.toMap
    frames.foreach(_._1.unpersist())
    out
  }
}
