package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.{GraftCli, Tables}
import graft.model._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A seeded PowerSQL project: `powersql.toml`, one `models/<name>.sql`
  * per model and `tests/t<i>.sql` files of ASSERTs, over the orders,
  * lineitem and region source tables.
  *
  * Every model outputs `(k, n, rev, v)` with `k` in 0..4, the region keys.
  * Each template conserves the sums
  * of `n` and `rev` over its parents, so a model's totals equal the
  * path-weighted sum of the level-1 source slices below it. That gives an
  * oracle independent of the engine: a direct aggregate of the source.
  * `v` is the edit tag; bumping it changes a model's definition hash but
  * not its data.
  */
final class DagProject(val seed: Long, val size: Int) {
  import DagProject._

  private val rng = new Random(seed)

  /** Level widths in ModelDagScaleSpec's proportions (125, 125, 125, 100,
    * 20, 5 of 500), at least two wide.
    */
  val widths: Seq[Int] = {
    val base = Shape.map(w => math.max(2, math.round(w * size / 500.0).toInt)).toArray
    base(0) += size - base.sum
    base.toSeq
  }
  val names: Seq[Seq[String]] = widths.zipWithIndex.map { case (w, l) => (0 until w).map(i => s"m${l + 1}_$i") }
  val all: Seq[String] = names.flatten

  // The seed places sources, edges, templates and views; their counts are
  // fixed by `size`, so the work of a cycle hardly depends on the seed.
  private def deal[T](kinds: Seq[T], n: Int): Seq[T] = rng.shuffle(Iterator.continually(kinds).flatten.take(n).toSeq)

  /** `kinds` dealt round-robin across `levels` in order, then shuffled
    * within each level: every level gets the same counts on every seed.
    */
  private def dealByLevel[T](kinds: Seq[T], levels: Seq[Seq[String]]): Map[String, T] =
    levels.zip(levels.scanLeft(0)(_ + _.size)).flatMap { case (l, from) =>
      l.zip(rng.shuffle(l.indices.map(i => kinds((from + i) % kinds.size))))
    }.toMap

  /** Level-1 model -> source table: a third read lineitem, the rest orders. */
  val sources: Map[String, String] = names.head.zip(deal(Seq("orders", "orders", "lineitem"), widths.head)).toMap
  /** Parents: each model takes 1 to 3 from the level above, and every
    * model above gets at least one child, so only the last level are sinks.
    */
  val parents: Map[String, Seq[String]] = names.head.map(_ -> Seq.empty[String]).toMap ++
    names.sliding(2).flatMap { case Seq(up, level) =>
      val fanIn = level.zip(deal(Seq(1, 2, 3), level.size)).toMap
      val cover = rng.shuffle(up).zipWithIndex.groupMap(x => level(x._2 % level.size))(_._1)
      level.map { n =>
        val own = cover.getOrElse(n, Nil)
        n -> (own ++ rng.shuffle(up.filterNot(own.contains)).take(math.max(0, fanIn(n) - own.size))).sorted
      }
    }
  val children: Map[String, Seq[String]] =
    parents.toSeq.flatMap { case (c, ps) => ps.map(_ -> c) }.groupMap(_._1)(_._2).withDefaultValue(Nil)
  val sinks: Seq[String] = names.last
  private val templateMix: Map[String, String] = dealByLevel(Templates, names.tail)
  val template: String => String = n => templateMix.getOrElse(n, "source")
  /** A quarter of the models between level 1 and the sinks are views. */
  val isView: Map[String, Boolean] =
    all.map(_ -> false).toMap ++ dealByLevel(Seq(true, false, false, false), names.tail.init)
  val tables: Set[String] = all.filterNot(isView).toSet
  def level(n: String): Int = n.drop(1).takeWhile(_ != '_').toInt

  /** Paths from each level-1 model up to `m`, for the conserved-sum oracle. */
  val paths: Map[String, Map[String, Long]] = {
    val out = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    for (n <- all) out(n) =
      if (parents(n).isEmpty) Map(n -> 1L)
      else parents(n).map(out).reduce((a, b) => (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
    out.toMap
  }

  val tags: scala.collection.mutable.Map[String, Int] = scala.collection.mutable.Map.empty.withDefaultValue(0)

  def sql(n: String): String = {
    val v = tags(n)
    val kind = if (isView(n)) "VIEW" else "TABLE"
    val body = template(n) match {
      case "source" =>
        val i = n.stripPrefix("m1_").toInt
        val w = widths.head
        if (sources(n) == "orders")
          s"SELECT o_custkey % 5 AS k, COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev, $v AS v " +
            s"FROM orders WHERE o_orderkey % $w = $i GROUP BY o_custkey % 5"
        else
          s"SELECT l_partkey % 5 AS k, COUNT(*) AS n, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev, $v AS v " +
            s"FROM lineitem WHERE l_orderkey % $w = $i GROUP BY l_partkey % 5"
      case t =>
        val u = parents(n).map(p => s"SELECT k, n, rev FROM $p").mkString(" UNION ALL ")
        t match {
          case "aggregate" => s"SELECT k, SUM(n) AS n, SUM(rev) AS rev, $v AS v FROM ($u) u GROUP BY k"
          case "join" =>
            s"SELECT u.k, u.n, u.rev, $v AS v FROM (SELECT k, SUM(n) AS n, SUM(rev) AS rev FROM ($u) x GROUP BY k) u " +
              "JOIN region r ON u.k = r.r_regionkey"
          case "window" =>
            s"SELECT DISTINCT k, SUM(n) OVER (PARTITION BY k) AS n, SUM(rev) OVER (PARTITION BY k) AS rev, $v AS v FROM ($u) u"
          case "scalar" =>
            s"SELECT k, SUM(n) AS n, SUM(rev) AS rev, $v AS v FROM ($u) u " +
              s"WHERE (SELECT COUNT(*) FROM ${parents(n).head}) > 0 GROUP BY k"
        }
    }
    s"CREATE $kind $n AS $body"
  }

  /** Downstream closure (the models themselves included). */
  def closure(ms: Iterable[String]): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    def go(m: String): Unit = if (seen.add(m)) children(m).foreach(go)
    ms.foreach(go)
    seen.toSet
  }

  /** A seeded edit set whose downstream closure has exactly `target` models. */
  def drawEdit(target: Int): Seq[String] = {
    val picked = scala.collection.mutable.ArrayBuffer.empty[String]
    for (m <- rng.shuffle(all) if closure(picked).size < target)
      if (closure(picked :+ m).size <= target) picked += m
    Util.require(closure(picked).size == target, s"no edit set with a $target-model closure")
    picked.toSeq
  }

  def write(dir: String): Unit = {
    new File(s"$dir/models").mkdirs()
    new File(s"$dir/tests").mkdirs()
    Files.writeString(Paths.get(s"$dir/powersql.toml"),
      "[project]\nname = \"perfbench\"\nmodels = [\"models\"]\ntests = [\"tests\"]\n")
    all.foreach(writeModel(dir, _))
  }

  def writeModel(dir: String, n: String): Unit =
    Files.writeString(Paths.get(s"$dir/models/$n.sql"), sql(n) + ";\n")

  def edit(dir: String, ms: Seq[String]): Unit = ms.foreach { m => tags(m) += 1; writeModel(dir, m) }

  /** ASSERTs: every sink's conserved totals, then key counts on other
    * models, 20 to 50 in all.
    */
  def writeTests(dir: String, expected: Map[String, (Long, BigDecimal)]): Int = {
    val sinkAsserts = sinks.flatMap { s =>
      val (n, rev) = expected(s)
      Seq(s"ASSERT (SELECT SUM(n) FROM $s) = $n AS '$s n total'",
        s"ASSERT (SELECT SUM(rev) FROM $s) = ${rev.bigDecimal.toPlainString} AS '$s rev total'")
    }
    val others = rng.shuffle(all.filterNot(sinks.contains)).map(m =>
      s"ASSERT (SELECT COUNT(*) FROM $m) > 0 AS '$m is not empty'")
    val asserts = (sinkAsserts ++ others.take(math.max(0, 20 - sinkAsserts.size))).take(50)
    asserts.grouped(10).zipWithIndex.foreach { case (g, i) =>
      Files.writeString(Paths.get(s"$dir/tests/t$i.sql"), g.mkString("", ";\n", ";\n"))
    }
    asserts.size
  }
}

object DagProject {
  val Shape: Seq[Int] = Seq(125, 125, 125, 100, 20, 5)
  val Templates: Seq[String] = Seq("aggregate", "join", "window", "scalar")
}

/** One traced table materialization. */
final case class Materialized(op: Int, level: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One dag command's outcome: exit code and captured stdout lines. */
final case class CliResult(code: Int, lines: Seq[String])

/** The PowerSQL lifecycle, each command a closed-loop op: check, run into
  * an empty warehouse, test, slim CI (`run --select state:modified+`)
  * after a seeded edit, and run-incremental after the same models are
  * edited again. The run-incremental warehouse persists across cycles, so
  * it measures the steady-state incremental loop.
  */
final class DagWorkload(spark: SparkSession, tracer: Tracer, dataDir: String, work: String,
                        project: DagProject, editTarget: Int) {
  val dir = s"$work/project"
  private val incWh = s"$work/wh_incremental"
  private var expected: Map[String, (Long, BigDecimal)] = Map.empty
  var assertCount = 0
  private var cycleNo = 0
  /** Downstream closure of the edits the next run-incremental must rebuild. */
  private var edited: Set[String] = Set.empty
  def models: Int = project.size

  /** Traced run-incremental ops: (op, models built, built models downstream of an edit). */
  val rebuilds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
  /** Traced re-attaches: (op, tables re-attached). */
  val reattached = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
  /** Traced materializations. */
  val materialized = new java.util.concurrent.ConcurrentLinkedQueue[Materialized]()

  /** Generates the project and checks that it parses to the drawn shape. */
  def prepare(): Unit = {
    Util.deleteRecursively(new File(work))
    project.write(dir)
    val w = project.widths.head
    def slices(t: String, key: String, v: String) =
      spark.sql(s"SELECT $key % $w AS s, COUNT(*) AS n, SUM(CAST($v AS DECIMAL(18,2))) AS rev FROM $t GROUP BY 1")
        .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    val t = Tables(spark, dataDir)
    t.orders.createOrReplaceTempView("orders")
    t.lineitem.createOrReplaceTempView("lineitem")
    val bySource = Map("orders" -> slices("orders", "o_orderkey", "o_totalprice"),
      "lineitem" -> slices("lineitem", "l_orderkey", "l_extendedprice"))
    val leaf = project.names.head.map(n => n -> bySource(project.sources(n))(n.stripPrefix("m1_").toInt)).toMap
    expected = project.all.map { m =>
      val ps = project.paths(m).toSeq
      m -> (ps.map { case (l, k) => leaf(l)._1 * k }.sum, ps.map { case (l, k) => leaf(l)._2 * k }.sum)
    }.toMap
    assertCount = project.writeTests(dir, expected)

    // input fingerprint of the generated project
    val models = ModelParser.loadDir(s"$dir/models").flatMap(ModelParser.parseModelFile)
    val engine = new ModelEngine(spark)
    val levels = engine.topoLevels(engine.dependencies(models))
    Util.require(models.size == project.size, s"project has ${models.size} models, expected ${project.size}")
    Util.require(levels.map(_.size) == project.widths, s"level widths ${levels.map(_.size)} != ${project.widths}")
    Util.require(assertCount >= 20 && assertCount <= 50, s"$assertCount asserts")
  }

  private def tableFiles(wh: String): Map[String, Set[String]] =
    project.tables.toSeq.map(t => t -> Option(new File(s"$wh/$t").list()).map(_.toSet).getOrElse(Set.empty)).toMap

  /** Runs one lifecycle; `op` times each command and then checks its
    * output, outside the timed window.
    */
  def cycle(op: Recorder, checkFork: Boolean): Unit = {
    cycleNo += 1
    this.checkFork = checkFork
    val wh = s"$work/wh_$cycleNo"
    val edit = project.drawEdit(editTarget)
    val closure = project.closure(edit)
    def ready(r: CliResult) = r.lines.collect { case l if l.startsWith("Ready ") => l.stripPrefix("Ready ") }.toSet
    op("check")(execute("check", wh, None)) { r =>
      r.code == 0 && r.lines.count(_.startsWith("Checking ")) == project.size
    }
    val built = op("run")(execute("run", wh, None)) { r =>
      r.code == 0 && ready(r) == project.all.toSet && sinkTotalsOk(wh)
    }
    if (built.code != 0) throw new IllegalStateException("run failed; the later commands need its warehouse")
    op("test")(execute("test", wh, None)) { r =>
      r.code == 0 && r.lines.size == assertCount && r.lines.forall(_.endsWith("...OK"))
    }
    project.edit(dir, edit)
    val before = tableFiles(wh)
    op("slim_ci")(execute("run", wh, Some("state:modified+"))) { r =>
      val rebuilt = tableFiles(wh).collect { case (t, f) if f != before(t) => t }.toSet
      r.code == 0 && ready(r) == closure && rebuilt == closure.intersect(project.tables)
    }
    project.edit(dir, edit)
    val first = !new File(incWh).exists()
    edited = if (first) project.all.toSet else closure
    op("incremental")(execute("run-incremental", incWh, None)) { r =>
      val built = r.lines.collect { case l if l.endsWith(": built") => l.stripSuffix(": built") }.toSet
      r.code == 0 && built == edited.intersect(project.tables)
    }
    // each cycle's warehouse is kept until the run ends: deleting files while
    // measuring stalls the next ops on the file system's journal
  }

  private def sinkTotalsOk(wh: String): Boolean = {
    val q = project.sinks.map(s =>
      s"SELECT '$s' AS m, SUM(n) AS n, SUM(rev) AS rev FROM parquet.`$wh/$s`").mkString(" UNION ALL ")
    val got = spark.sql(q).collect().map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    project.sinks.forall(s => got.get(s).contains(expected(s)))
  }

  private var checkFork = false

  private def cli(cmd: String, wh: String, select: Option[String]): CliResult =
    Util.captureStdout(GraftCli.execute(spark, cmd, dir, wh, failFast = false, select, Some(dataDir)))

  /** The CLI command. Traced, it runs `traced`, the benchmark's copy of
    * `GraftCli.execute`; with `checkFork` it first runs `GraftCli.execute`
    * itself on a copy of the warehouse and fails unless both print the
    * same lines and exit codes.
    */
  def execute(cmd: String, wh: String, select: Option[String]): CliResult =
    if (!tracer.enabled) cli(cmd, wh, select)
    else if (!checkFork) traced(cmd, wh, select)
    else {
      val ref = s"$wh.cli"
      Util.deleteRecursively(new File(ref))
      Util.copyDir(new File(wh), new File(ref))
      val want = cli(cmd, ref, select)
      val got = traced(cmd, wh, select)
      Util.deleteRecursively(new File(ref))
      if (got != want) throw new IllegalStateException(s"traced $cmd printed $got, GraftCli.execute $want")
      got
    }

  /** `GraftCli.execute` made of the same public calls, in the same order,
    * with a span around each layer.
    */
  private def traced(cmd: String, wh: String, select: Option[String]): CliResult = {
    val out = Seq.newBuilder[String]
    val (cfg, allModels, tests) = tracer.span("model.parse") {
      val p = Project.load(s"$dir/powersql.toml")
      def resolve(dirs: Seq[String]) = dirs.map(d => if (new File(d).isAbsolute) d else s"$dir/$d")
      (p, resolve(p.models).flatMap(ModelParser.loadDir).flatMap(ModelParser.parseModelFile),
        resolve(p.tests).flatMap(ModelParser.loadDir).flatMap(ModelParser.parseTestFile))
    }
    val engine = new ModelEngine(spark)
    val seeds = engine.loadSeeds(cfg.seeds.map(d => if (new File(d).isAbsolute) d else s"$dir/$d"))
    seeds.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    tracer.span("cli.register_sources") {
      val referenced = tracer.span("model.deps") {
        (allModels.map(_.query) ++ tests.map(t => s"SELECT (${t.condition})")).flatMap(engine.references).toSet
      }
      Tables(spark, dataDir).register((referenced -- allModels.map(_.name)).intersect(Tables.SourceNames.toSet))
    }
    val models = select match {
      case None => allModels
      case Some(expr) =>
        val deps = tracer.span("model.deps")(engine.dependencies(allModels))
        val modified =
          if (expr.contains("state:modified")) tracer.span("model.manifest")(engine.modifiedSince(allModels, wh))
          else Set.empty[String]
        val (keep, needed) = tracer.span("model.select") {
          val keep = Selector.expand(deps, expr, modified)
          (keep, Selector.expand(deps, keep.map("+" + _).mkString(",")) -- keep)
        }
        tracer.span("model.reattach") {
          reattached += ((tracer.op, needed.count(project.tables)))
          val missing = allModels.collect {
            case TableModel(n, _) if needed(n) && !ModelEngine.warehouseTableExists(spark, wh, n) => n
          }
          if (missing.nonEmpty) return CliResult(1, Nil)
          engine.registerWarehouse(allModels.filter(m => needed(m.name)), wh)
        }
        allModels.filter(m => keep(m.name))
    }
    val code = cmd match {
      case "check" =>
        tracer.span("model.analyze") {
          engine.check(models).toSeq.sortBy(_._1).foreach { case (n, schema) =>
            out += s"Checking $n"
            out += s"$n ${schema.simpleString}"
          }
          engine.checkTests(tests)
        }
        0
      case "run" =>
        engine.seed(seeds, wh)
        tracer.span("model.run")(engine.run(models, timingSink(wh)))
        tracer.span("model.manifest")(engine.saveState(models, wh))
        models.foreach(m => out += s"Ready ${m.name}")
        0
      case "run-incremental" =>
        engine.seed(seeds, wh)
        val status = tracer.span("model.run_incremental")(engine.runIncremental(models, wh))
        val built = status.collect { case (m, "built") => m }.toSet
        rebuilds += ((tracer.op, built.size, built.count(edited)))
        status.toSeq.sortBy(_._1).foreach { case (m, s) => out += s"$m: $s" }
        0
      case "test" =>
        reattached += ((tracer.op, project.tables.size))
        tracer.span("model.reattach")(engine.registerWarehouse(models, wh))
        val results = tracer.span("model.assert")(engine.test(tests))
        results.foreach { case (msg, ok) => out += s"$msg...${if (ok) "OK" else "ERROR"}" }
        if (results.forall(_._2)) 0 else 1
    }
    CliResult(code, out.result())
  }

  /** The parquet sink with a span per materialization. Materializations
    * run on pool threads, so the parent span is passed explicitly.
    */
  private def timingSink(wh: String): TableSink = {
    val inner = TableSink.parquet(wh)
    val parent = tracer.current
    new TableSink {
      override def materialize(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
        val t0 = System.nanoTime()
        try tracer.span("model.materialize", parent)(inner.materialize(spark, name, df))
        finally materialized.add(Materialized(tracer.op, project.level(name), t0, System.nanoTime()))
      }
    }
  }
}
