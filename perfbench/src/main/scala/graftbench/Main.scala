package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType}

import graft.{SparkEntry, TransientCache}
import graft.gql.{GqlExecutor, GqlParser, GqlViews}
import graft.graph.GraphStore
import graft.model.PropValue
import graft.views.Views

/** Closed-loop benchmark harness, one client thread. `run.py`
  * generates the inputs from the seed and checks the outputs; this
  * program only executes them and records what it measured:
  *
  *   --workload gql_read|view_ingest|batch_analytics
  *   --data DIR        parquet tables
  *   --inputs FILE     generated statements / mutation rows / job list
  *   --seconds S       length of the measured window
  *   --trace 0|1       spans + per-job Spark counters
  *   --work DIR        scratch space (temp files, view catalogs)
  *   --out FILE        result (JSON); spans go to FILE.spans.jsonl
  *   --parity 0|1      view_ingest: also check every view against a
  *                     from-scratch GqlExecutor MATCH (slow)
  */
object Main {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  final case class Op(id: Long, kind: String, ms: Double, ok: Boolean,
      rows: Long, sum: Long, units: Int)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val cores = opt.getOrElse("cores", "4").toInt
    val work = new File(opt("work")).getAbsoluteFile
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, opt("trace") == "1")
    val run = new Run(spark, tracer, opt("data"), opt("inputs"),
      opt("seconds").toDouble, cores, opt.getOrElse("parity", "0") == "1")
    val out = workload match {
      case "gql_read" => run.gqlRead()
      case "view_ingest" => run.viewIngest()
      case "batch_analytics" => run.batchAnalytics()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.close()
    out.put("setup_session_s", sessionS)
    out.put("env", Json.obj(
      "cores" -> cores, "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))
    Json.write(new File(opt("out")), out.toMap)
    if (tracer.enabled) {
      val w = new PrintWriter(new File(opt("out") + ".spans.jsonl"))
      try tracer.spans.foreach { s =>
        w.println(Json.render(Json.obj("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs)))
      } finally w.close()
    }
    spark.stop()
  }

  /** The session `graft.Bench` builds, with every file it writes kept
    * under `work`.
    */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Row count, sum of column `k` (when present) and an xxhash64 XOR
    * over every column: one action that computes the full output.
    */
  def checksumFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => col(f.name).cast("string")
        case _ => col(f.name)
      }
    }
    val k = if (df.columns.contains("k")) col("k").cast(LongType) else lit(0L)
    df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"), k.as("__k"))
      .agg(count(lit(1)), coalesce(sum("__k"), lit(0L)), expr("bit_xor(__h)"))
  }

  def checksum(df: DataFrame): (Long, Long, Long) = collect(checksumFrame(df))

  /** Run the action of a `checksumFrame`. */
  def collect(q: DataFrame): (Long, Long, Long) = {
    val r = q.head()
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

final class Run(spark: SparkSession, tracer: Tracer, dataDir: String,
    inputs: String, seconds: Double, cores: Int, parity: Boolean) {
  import Main._

  private val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val ops = ArrayBuffer.empty[Op]
  private val lines: Seq[Array[String]] = {
    val src = Source.fromFile(inputs, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Block-manager memory plus disk held by persisted data, MB. */
  private def retainedMb(): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  /** Checksum action, split into physical planning and execution. */
  private def materialize(df: DataFrame): (Long, Long, Long) = {
    val q = checksumFrame(df)
    tracer.span("spark.plan")(q.queryExecution.executedPlan)
    tracer.span("spark.exec")(collect(q))
  }

  /** The cached TPC-H property graph every workload reads. */
  private def projection(): GraphStore = {
    val t0 = System.nanoTime()
    val g = GraphStore.fromTpch(spark, dataDir)
    g.vertices.count(); g.edges.count()
    out.put("setup_projection_s", ms(t0) / 1e3)
    g
  }

  /** Closed loop: next op as soon as the previous one finished, until
    * the window has passed, at least `minOps` ran and the op count is
    * a multiple of `whole`.
    */
  private def loop(n: Int, minOps: Int, whole: Int = 1)(op: Int => Op): Double = {
    // set-up ends here: session, projection, warm-up, view bootstrap
    out.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    tracer.reset()
    val t0 = System.nanoTime()
    var i = 0
    while (i < n && (i < minOps || i % whole != 0 || ms(t0) / 1e3 < seconds)) {
      tracer.beginOp(i)
      ops += op(i)
      i += 1
    }
    val window = ms(t0) / 1e3
    tracer.beginOp(-1)
    tracer.drain()
    window
  }

  private def finish(window: Double): scala.collection.mutable.Map[String, Any] = {
    out.put("window_s", window)
    out.put("retained_mb", retainedMb())
    out.put("ops", ops.map(o => Json.obj("op" -> o.id, "kind" -> o.kind,
      "ms" -> o.ms, "ok" -> o.ok, "rows" -> o.rows, "sum" -> o.sum,
      "units" -> o.units)).toSeq)
    if (tracer.enabled) {
      val all = tracer.get("*")
      val n = math.max(1, ops.size).toDouble
      out.put("spark", Json.obj(
        "plan_ms" -> tracer.spanMs("spark.plan") / n,
        "exec_ms" -> tracer.spanMs("spark.exec") / n,
        "jobs_per_op" -> all.jobs / n,
        "stages_per_op" -> all.stages / n,
        "tasks_per_op" -> all.tasks / n,
        "shuffle_mb_per_op" -> all.shuffleBytes / 1e6 / n,
        "task_cpu_s_per_op" -> all.cpuNs / 1e9 / n,
        "busy_ratio" -> all.runMs / (window * 1e3 * cores),
        "sched_delay_ms" -> all.schedMs.toDouble / math.max(1L, all.tasks),
        "gc_s" -> all.gcMs / 1e3,
        "spill_mb" -> all.spillBytes / 1e6))
    }
    out
  }

  // ---- gql_read ----------------------------------------------------

  def gqlRead(): scala.collection.mutable.Map[String, Any] = {
    val stmts = lines.filter(_(0) == "stmt").map(a => (a(2), a(3)))
    // runs end on whole blocks of the statement stream (gen.BLOCK)
    val block = lines.find(_(0) == "block").map(_(1).toInt).getOrElse(1)
    val store = projection()
    val t0 = System.nanoTime()
    // warm-up: statements of their own, untimed
    lines.filter(_(0) == "warm").foreach(a => checksum(GqlExecutor.run(store, a(3)).df))
    out.put("setup_warmup_s", ms(t0) / 1e3)
    val window = loop(stmts.size, 3 * block, block) { i =>
      val (template, text) = stmts(i)
      tracer.span(s"gql_read.$template") {
        val t = System.nanoTime()
        val r = scala.util.Try {
          val stmt = tracer.span("gql.parse")(GqlParser.parse(text)) match {
            case Right(s) => s
            case Left(err) => throw new IllegalArgumentException(err)
          }
          val df = tracer.span("gql.build")(GqlExecutor.execute(store, stmt).df)
          materialize(df)
        }
        val elapsed = ms(t)
        r.failed.foreach(e => System.err.println(s"[perfbench] op $i: $e"))
        val (rows, s, _) = r.getOrElse((-1L, 0L, 0L))
        Op(i, template, elapsed, r.isSuccess, rows, s, 1)
      }
    }
    val res = finish(window)
    if (tracer.enabled) {
      val n = math.max(1, ops.size).toDouble
      res.put("gql", Json.obj(
        "parse_ms" -> tracer.spanMs("gql.parse") / n,
        "build_ms" -> tracer.spanMs("gql.build") / n,
        "build_jobs" -> tracer.get("gql.build").jobs / n))
    }
    res
  }

  // ---- view_ingest -------------------------------------------------

  /** The four maintained views, one per maintenance kind. */
  private val viewDefs = Seq(
    "building_orders" ->
      """MATCH (c:Customer {mktsegment: "BUILDING"})-[:placed]->(o:Order)""",
    "feeds_region" ->
      "MATCH (a:Nation)-[:feeds*1..2]->(b:Nation)-[:in_region]->(c:Region)",
    "nation_flows" -> "MATCH (a:Nation)-[:flows*1..]->(b:Nation)",
    "nation_links" -> "MATCH (a:Nation)-[:feeds*1..]-(b:Nation)")

  private def viewCols(name: String): Seq[String] =
    if (name == "feeds_region") Seq("c0", "c1", "c2") else Seq("src", "dst")

  /** Executor query over a view's own definition, columns named like
    * the view's rows.
    */
  private def fromScratch(name: String): String = {
    val vars = if (name == "building_orders") Seq("c", "o")
      else if (name == "feeds_region") Seq("a", "b", "c") else Seq("a", "b")
    viewDefs.toMap.apply(name) + vars.zip(viewCols(name))
      .map { case (v, c) => s"id($v) AS $c" }.mkString(" RETURN ", ", ", "")
  }

  /** One mutation batch in StreamPatternView's op schema
    * (op, id, label, src, dst, props), props built from typed columns.
    */
  private def batchFrame(rows: Seq[Array[String]]): DataFrame = {
    import spark.implicits._
    def l(s: String): Option[Long] = if (s.isEmpty) None else Some(s.toLong)
    def d(s: String): Option[Double] = if (s.isEmpty) None else Some(s.toDouble)
    def s(x: String): Option[String] = if (x.isEmpty) None else Some(x)
    val flat = rows.map(a => (a(2), l(a(3)), s(a(4)), l(a(5)), l(a(6)),
      s(a(7)), d(a(8)), s(a(9)), l(a(10)), d(a(11)), s(a(12)), s(a(13))))
      .toDF("op", "id", "label", "src", "dst", "name", "acctbal",
        "mktsegment", "nationkey", "totalprice", "orderstatus", "orderpriority")
    val customer = map(
      lit("name"), PropValue.ofString(col("name")),
      lit("acctbal"), PropValue.ofFloat(col("acctbal")),
      lit("mktsegment"), PropValue.ofString(col("mktsegment")),
      lit("nationkey"), PropValue.ofInt(col("nationkey")))
    val order = map(
      lit("totalprice"), PropValue.ofFloat(col("totalprice")),
      lit("orderstatus"), PropValue.ofString(col("orderstatus")),
      lit("orderpriority"), PropValue.ofString(col("orderpriority")))
    flat.select(col("op"), col("id"), col("label"), col("src"), col("dst"),
      when(col("op") === "update_vertex_props", customer)
        .when(col("op") === "add_vertex", order)
        .otherwise(lit(null).cast(PropValue.mapType)).as("props"))
  }

  /** Apply one batch the way StreamPatternView does: fixed op order,
    * then the lineage cut of both tables.
    */
  private def applyBatch(st0: GraphStore, batch: DataFrame): GraphStore = {
    val b = batch.localCheckpoint()
    var st = st0
    val va = b.filter(col("op") === "add_vertex")
      .select(col("id"), col("label"), col("props"))
    if (va.limit(1).count() > 0) st = st.addVertices(va)
    val ea = b.filter(col("op") === "add_edge")
      .select(col("src"), col("dst"), col("label"), col("props"))
    if (ea.limit(1).count() > 0) st = st.addEdges(ea)
    val vu = b.filter(col("op") === "update_vertex_props")
      .select(col("id"), col("props"))
    if (vu.limit(1).count() > 0) st = st.updateVertexProps(vu)
    val er = b.filter(col("op") === "remove_edge")
      .select(col("src"), col("dst"), col("label"))
    if (er.limit(1).count() > 0) st = st.removeEdges(er)
    st.truncated().truncatedEdges()
  }

  def viewIngest(): scala.collection.mutable.Map[String, Any] = {
    val muts = lines.filter(_(0) == "mut")
    val batches = muts.groupBy(_(1).toInt).toSeq.sortBy(_._1).map(_._2)
    val store0 = projection()
    // bootstrap: the first refresh of a registered view computes it
    val t0 = System.nanoTime()
    val catalog = new Views.ViewCatalog(spark,
      java.nio.file.Files.createTempDirectory("perfbench_views").toString)
    viewDefs.foreach { case (name, gql) =>
      GqlViews.register(catalog, name, gql)
      checksum(GqlViews.refresh(catalog, name, store0, store0))
    }
    out.put("views_bootstrap_s", ms(t0) / 1e3)
    var store = store0
    var checkpointMb = 0.0
    def ingest(rows: Seq[Array[String]]): Unit = {
      val before = retainedMb()
      val next = tracer.span("graph.apply")(applyBatch(store, batchFrame(rows)))
      if (tracer.enabled) checkpointMb += retainedMb() - before
      catalog.beginBatch()
      viewDefs.foreach { case (name, _) =>
        tracer.span(s"views.refresh.$name") {
          materialize(GqlViews.refresh(catalog, name, store, next))
        }
      }
      catalog.commitBatch()
      store = next
    }
    val before = retainedMb()
    val window = loop(batches.size, 1) { i =>
      tracer.span("view_ingest.batch") {
        val t = System.nanoTime()
        val r = scala.util.Try(ingest(batches(i)))
        r.failed.foreach(e => System.err.println(s"[perfbench] batch $i: $e"))
        Op(i, "batch", ms(t), r.isSuccess, 0L, 0L, batches(i).size)
      }
    }
    val res = finish(window)
    res.put("retained_growth", retainedMb() / before)
    // the final views, for run.py to check against its own oracle
    val finalViews = viewDefs.map { case (name, _) =>
      name -> catalog.dataOf(name).get.select(viewCols(name).map(col): _*).distinct()
    }
    res.put("view_rows", Json.obj(finalViews.map { case (name, v) =>
      name -> v.collect().map(r => r.toSeq.map(_.asInstanceOf[Long])).toSeq
    }: _*))
    // executor parity (StreamViewsSpec's contract): every view equals a
    // from-scratch MATCH of its own definition over the final store
    if (parity) res.put("view_mismatches", Json.obj(finalViews.map { case (name, v) =>
      val e = GqlExecutor.run(store, fromScratch(name)).df.distinct()
      name -> (v.exceptAll(e).count() + e.exceptAll(v).count())
    }: _*))
    if (tracer.enabled) {
      val nb = math.max(1, ops.size).toDouble
      res.put("graph", Json.obj(
        "apply_ms" -> tracer.spanMs("graph.apply") / nb,
        "apply_jobs" -> tracer.get("graph.apply").jobs / nb,
        "checkpoint_mb" -> checkpointMb / nb))
      res.put("views", Json.obj(viewDefs.flatMap { case (name, _) =>
        val c = tracer.get(s"views.refresh.$name")
        Seq(s"refresh_ms.$name" -> tracer.spanMs(s"views.refresh.$name") / nb,
          s"refresh_jobs.$name" -> c.jobs / nb,
          s"refresh_shuffle_mb.$name" -> c.shuffleBytes / 1e6 / nb)
      }: _*))
    }
    res
  }

  // ---- batch_analytics --------------------------------------------

  def batchAnalytics(): scala.collection.mutable.Map[String, Any] = {
    val jobs = lines.filter(_(0) == "job").map(a => (a(1), a(2)))
    def runJob(query: String): (Long, Long, Long) =
      try {
        val df = tracer.span("operators.build")(SparkEntry.queries(query)(spark, dataDir))
        materialize(df)
      } finally TransientCache.releaseAll()
    val t0 = System.nanoTime()
    // warm-up: one cold pass, untimed
    jobs.foreach { case (name, q) =>
      val t = System.nanoTime()
      runJob(q)
      System.err.println(f"[perfbench] warm-up $name ${ms(t)}%.0f ms")
    }
    out.put("setup_warmup_s", ms(t0) / 1e3)
    val n = jobs.size
    val window = loop(n * 1000, n, n) { i =>
      val (name, query) = jobs(i % n)
      tracer.span(s"job.$name") {
        val t = System.nanoTime()
        val r = scala.util.Try(runJob(query))
        r.failed.foreach(e => System.err.println(s"[perfbench] $name: $e"))
        val (rows, _, h) = r.getOrElse((-1L, 0L, 0L))
        Op(i, name, ms(t), r.isSuccess, rows, h, 1)
      }
    }
    val res = finish(window)
    if (tracer.enabled) {
      res.put("jobs", Json.obj(jobs.flatMap { case (name, _) =>
        val c = tracer.get(s"job.$name")
        val mine = ops.filter(_.kind == name)
        val runs = math.max(1, mine.size).toDouble
        Seq(s"$name.jobs" -> c.jobs / runs,
          s"$name.shuffle_mb" -> c.shuffleBytes / 1e6 / runs,
          s"$name.task_cpu_s" -> c.cpuNs / 1e9 / runs,
          s"$name.busy_ratio" -> c.runMs / (math.max(1e-9, mine.map(_.ms).sum) * cores))
      }: _*))
    }
    res
  }
}

/** Just enough JSON for flat result files. */
object Json {
  def obj(kvs: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kvs: _*)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(f: File, m: scala.collection.Map[String, Any]): Unit = {
    val w = new PrintWriter(f)
    try w.println(render(m)) finally w.close()
  }
}
