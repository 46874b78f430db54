package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.graph.MemoryGraph

/** The benchmark's JVM side. Reads a plan written by perfbench/run.py (the
  * workload, the generated op list or pass orders, the data dir), sets
  * up the at-rest state, runs the workload for the planned seconds and
  * writes every raw sample to `<out>/result.json`. run.py turns the
  * samples into metrics and checks every answer against DuckDB.
  *
  * The JVM's working directory is the run's own cache root: graft keeps
  * its graph layout and DiskCache artifacts under `target/` there. */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = Paths.get(plan.get("out").asText)
    val res = mapper.createObjectNode()
    var spark: SparkSession = null
    try {
      spark = session(plan.get("cores").asInt)
      new Run(spark, plan, res).apply()
      res.put("complete", true)
    } catch {
      case t: Throwable =>
        val sw = new java.io.StringWriter
        t.printStackTrace(new java.io.PrintWriter(sw))
        res.put("error", sw.toString)
    } finally {
      // the result is on disk before shutdown, so a throwing stop()
      // cannot take it with it
      val tmp = out.resolve("result.json.tmp")
      Files.write(tmp, mapper.writeValueAsBytes(res))
      Files.move(tmp, out.resolve("result.json"), StandardCopyOption.ATOMIC_MOVE)
      if (spark != null)
        try spark.stop()
        catch { case t: Throwable => System.err.println(s"[perfbench] stop failed: $t") }
    }
  }

  /** graft's default session, with the confs graft.Bench sets and no
    * spark.graft.* confs. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.locality.wait", "0s")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.cleaner.periodicGC.interval", "15s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final class Run(spark0: SparkSession, plan: JsonNode, res: ObjectNode) {
  import Main.mapper

  private val t0 = System.nanoTime()
  private val workload = plan.get("workload").asText
  private val data = plan.get("data").asText
  private val outDir = Paths.get(plan.get("out").asText)
  private val seed = plan.get("seed").asInt
  private val seconds = plan.get("seconds").asDouble
  private val trace = plan.get("trace").asBoolean
  private val tracer = new Tracer(t0)
  private val listener = if (trace) Some(new OpListener) else None
  private var spark = spark0
  private def sc = spark.sparkContext

  private def now: Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](f: => T): (T, Double) = {
    val a = System.nanoTime(); val r = f; (r, (System.nanoTime() - a) / 1e9)
  }

  def apply(): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    res.put("session_s", (System.currentTimeMillis() - jvmStart) / 1e3 - now)
    writeOracleSql()
    setup()
    val m0 = now
    if (workload == "agent") agent() else batch()
    res.put("measure_s", now - m0)
    listener.foreach { l =>
      val c = res.putObject("counters")
      l.byOp.asScala.foreach { case (op, k) =>
        val o = c.putObject(op.toString)
        o.put("jobs", k.jobs); o.put("stages", k.stages); o.put("tasks", k.tasks)
        o.put("run_ms", k.runMs); o.put("gc_ms", k.gcMs)
        o.put("shuffle_read", k.shuffleRead); o.put("shuffle_write", k.shuffleWrite)
        o.put("spill", k.spill)
      }
    }
    val sp = res.putArray("spans")
    tracer.spans.take(measuredSpans).foreach { s =>
      sp.addArray().add(s.name).add(s.op).add(s.parent).add(s.start / 1e6).add(s.end / 1e6)
    }
  }

  /** The DuckDB-side SQL run.py checks answers with: graft's oracle
    * mirrors of the graph tables, of the mock embedding, and of every
    * batch query the plan names. */
  private def writeOracleSql(): Unit = {
    import graft.functions.{TextOps, VectorOps}
    val o = mapper.createObjectNode()
    o.put("nodes", MemoryGraph.Sql.nodes)
    o.put("edges", MemoryGraph.Sql.edges)
    o.put("embed", VectorOps.mockEmbeddingSql(TextOps.polyHashSql("__TEXT__"), 16))
    o.put("cosine6", VectorOps.cosine6Sql("__A__", "__B__"))
    val qs = o.putObject("queries")
    val all = SparkEntry.oracleSql
    plan.get("oracle_queries").asScala.map(_.asText).foreach { q =>
      all.get(q).foreach(sql => qs.put(q, sql))
    }
    Files.write(outDir.resolve("oracle_sql.json"), mapper.writeValueAsBytes(o))
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  // --- measurement and tracing ------------------------------------------

  /** Run one copy of a unit: when `traced`, with spans on and the
    * listener registered, drained and removed again after `f`, outside
    * its timing. */
  private def asCopy[T](traced: Boolean)(f: => T): T =
    if (!traced) f
    else {
      listener.foreach(sc.addSparkListener)
      tracer.on = true
      try f
      finally {
        tracer.on = false
        listener.foreach { l =>
          org.apache.spark.ListenerBusAccess.drain(sc)
          sc.removeSparkListener(l)
        }
      }
    }

  private var measuredSpans = 0

  /** The measured units, in order, until `more(k)` is false (the first
    * unit always runs): untraced in an untraced run, traced in a traced
    * one, as copy 0. A traced run then runs the tracing-overhead pair as
    * copy 1: the first unit again, untraced and traced in an order the
    * seed picks, both warm, so the overhead is measured on the same ops
    * in the same JVM. Per-layer numbers come from copy 0 only.
    * `runUnit(k, traced, copy)` runs unit k and returns its seconds. */
  private def measure(n: Int, more: Int => Boolean)(
      runUnit: (Int, Boolean, Int) => Double): Unit = {
    val units = res.putArray("units")
    val gc0 = gcMs()
    var k = 0
    while (k < n && (k == 0 || more(k))) {
      units.addObject().put("unit", k).put("s", asCopy(trace)(runUnit(k, trace, 0)))
        .put("traced", trace).put("copy", 0)
      k += 1
    }
    res.put("gc_ms", gcMs() - gc0)
    measuredSpans = tracer.spans.size
    if (trace)
      (if (seed % 2 == 0) Seq(false, true) else Seq(true, false)).foreach { traced =>
        units.addObject().put("unit", 0).put("s", asCopy(traced)(runUnit(0, traced, 1)))
          .put("traced", traced).put("copy", 1)
      }
  }

  /** Attribute the jobs of `id` to it in the listener (copy 0 only: the
    * counters describe the measured units). */
  private def opKey(id: Int, copy: Int): Unit =
    sc.setLocalProperty(OpListener.Key, if (copy == 0) id.toString else null)

  // --- set-up ---------------------------------------------------------

  private val cacheRoot = Paths.get(sys.props("user.dir"), "target")

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally w.close()
  }

  /** Set-up. The graph layout is built several times, each from an
    * empty cache root on a fresh session object (graft memoizes at-rest
    * artifacts per session), and the last build serves the run. Then
    * the graph's DiskCache view the workload reads (the per-component
    * map for agent walks, the undirected view for the graph
    * algorithms) and one untimed warm-up. */
  private def setup(): Unit = {
    val reps = res.putArray("layout_reps_s")
    for (r <- 0 until plan.get("setup_reps").asInt) {
      deleteTree(cacheRoot)
      if (r > 0) spark = spark0.newSession()
      reps.add(timed(MemoryGraph.persisted(spark, data))._2)
    }
    res.put("graph_layout_bytes", bytesUnder(cacheRoot))
    res.put("diskcache_s", timed {
      if (workload == "agent") MemoryGraph.componentView(spark, data, "invalidates")
      else MemoryGraph.undirectedView(spark, data)
    }._2)
    res.put("warmup_s", timed {
      if (workload == "agent") {
        val g = MemoryGraph.persisted(spark, data)
        plan.get("warmup").asScala.foreach(op => read(g, op).collect())
      } else
        plan.get("warmup").asScala.foreach { q =>
          // to a parquet sink, as the timed calls write
          query(q.asText).write.mode("overwrite")
            .parquet(outDir.resolve("warmup").resolve(q.asText).toString)
          graft.util.Barriers.sweepTransient(sc)
        }
    }._2)
    res.put("at_rest_bytes", bytesUnder(cacheRoot))
  }

  // --- agent workloads ------------------------------------------------

  private def strs(n: JsonNode): Seq[String] = n.asScala.map(_.asText).toSeq
  private def text(op: JsonNode, k: String): String = op.get(k).asText

  private def read(g: MemoryGraph, op: JsonNode): DataFrame = text(op, "op") match {
    case "node" => g.node(text(op, "id"))
    case "findByName" => g.findByName(text(op, "ntype"), text(op, "name"))
    case "findFactByContent" => g.findFactByContent(text(op, "q"))
    case "list" =>
      val c = col(text(op, "sort"))
      g.list(text(op, "ntype"), Option(op.get("attr")).filterNot(_.isNull).map(_.asText),
        if (op.get("desc").asBoolean) c.desc else c.asc, op.get("limit").asInt,
        op.get("offset").asInt, op.get("validOnly").asBoolean)
    case "exactSearch" =>
      g.exactSearch(text(op, "q"), strs(op.get("ntypes")), op.get("perType").asInt)
    case "semanticSearch" =>
      g.semanticSearch(text(op, "q"), strs(op.get("ntypes")), op.get("perType").asInt,
        op.get("k").asInt)
    case "inNeighbors" => g.inNeighbors(text(op, "id"), text(op, "etype"))
    case "outNeighbors" => g.outNeighbors(text(op, "id"), text(op, "etype"))
    case "recentContext" => g.recentContext()
    case "stats" => g.stats()
    case "walk" =>
      // the stride relation is pruned to the start's component, as
      // graft's own invalidation-chain query does
      val comp = MemoryGraph.componentView(spark, data, text(op, "etype"))
      val slice = comp.join(
          comp.where(col("node") === text(op, "id")).select(col("component").as("c0")),
          col("component") === col("c0"))
        .select(col("node"))
      g.walk(text(op, "id"), text(op, "etype"), op.get("maxHops").asInt,
        nodeSlice = Some(slice))
    case "conflict" => query("b7_conflict_detect")
    case other => sys.error(s"unknown read op $other")
  }

  private def write(g: MemoryGraph, op: JsonNode): MemoryGraph = text(op, "op") match {
    case "store" =>
      val e = op.get("edge")
      g.store(text(op, "id"), text(op, "ntype"), text(op, "content"), text(op, "attr"),
          op.get("score").asDouble)
        .addEdge(text(e, "etype"), text(op, "id"), text(e, "dst"), "")
    case "invalidate" => g.invalidate(text(op, "old"), text(op, "new"), text(op, "reason"))
    case "updateAttr" => g.updateAttr(text(op, "id"), text(op, "attr"))
    case "storeAll" =>
      val rows = op.get("nodes").asScala.map(n => (text(n, "id"), text(n, "ntype"),
        text(n, "content"), text(n, "attr"), n.get("score").asDouble)).toSeq
      val s = spark
      import s.implicits._
      g.storeAll(rows.toDF("id", "ntype", "content", "attr", "score"), null)
    case other => sys.error(s"unknown write op $other")
  }

  /** Run one op of the agent workload into `rec` and return the graph
    * the next op sees. A write is timed together with the read that
    * confirms it (the call alone only builds a plan). Spans: the op,
    * the MemoryGraph calls, forced planning (traced copies only: the
    * graft.plans rules run here), execution. */
  private def runOp(g0: MemoryGraph, id: Int, op: JsonNode, rec: ObjectNode): MemoryGraph = {
    var g = g0
    val a = System.nanoTime()
    val rows = tracer(s"op.${text(op, "op")}", id) {
      val target =
        if (!op.has("ack")) op
        else {
          g = tracer(s"memorygraph.${text(op, "op")}", id)(write(g, op))
          rec.put("write_ms", (System.nanoTime() - a) / 1e6)
          op.get("ack")
        }
      val df = tracer(s"memorygraph.${text(target, "op")}", id)(read(g, target))
      if (tracer.on) tracer("planning", id)(df.queryExecution.executedPlan)
      tracer("spark.execute", id)(df.collect())
    }
    rec.put("ms", (System.nanoTime() - a) / 1e6)
    putRows(rec, rows)
    g
  }

  private def putRows(o: ObjectNode, rows: Array[Row]): Unit = {
    val arr = o.putArray("rows")
    rows.foreach(r => putRow(arr.addArray(), r))
  }

  private def putRow(a: ArrayNode, r: Row): Unit =
    (0 until r.length).foreach(i => putValue(a, r.get(i)))

  private def putValue(a: ArrayNode, v: Any): Unit = v match {
    case null => a.addNull()
    case s: String => a.add(s)
    case l: Long => a.add(l)
    case i: Int => a.add(i)
    case d: Double => a.add(d)
    case f: Float => a.add(f.toDouble)
    case b: Boolean => a.add(b)
    case r: Row => putRow(a.addArray(), r)
    case s: scala.collection.Seq[_] => val x = a.addArray(); s.foreach(putValue(x, _))
    case other => a.add(other.toString)
  }

  private def agent(): Unit = {
    val ops = mapper.readTree(new File(plan.get("ops").asText))
    val base = MemoryGraph.persisted(spark, data)
    val recs = res.putArray("ops")
    val blocks = ops.asScala.toSeq.groupBy(_.get("block").asInt).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.get("i").asInt))
    // whole units until the time is up and the reads are enough for a
    // p90 with ten samples beyond it
    val end = now + seconds
    val minReads = plan.get("min_reads").asInt
    var reads = 0
    measure(blocks.size, _ => now < end || reads < minReads) { (b, traced, copy) =>
      val u0 = now
      var g = base
      blocks(b).foreach { op =>
        val id = op.get("i").asInt
        opKey(id, copy)
        val rec = recs.addObject()
        rec.put("i", id); rec.put("block", b); rec.put("traced", traced); rec.put("copy", copy)
        try g = runOp(g, id, op, rec)
        catch { case t: Throwable => rec.put("error", t.toString.take(2000)) }
        if (!op.has("ack") && copy == 0) reads += 1
      }
      sc.setLocalProperty(OpListener.Key, null)
      now - u0
    }
  }

  // --- batch workloads --------------------------------------------------

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, data)

  private def batch(): Unit = {
    res.putArray("ops")
    val end = now + seconds
    val passes = plan.get("passes").asScala.toSeq.map(_.asScala.map(_.asText).toSeq)
    measure(passes.size, _ => now < end)((k, traced, copy) => pass(k, passes(k), traced, copy))
  }

  /** One batch pass: returns its wall seconds without the barrier sweeps
    * and storage probes between calls. */
  private def pass(k: Int, queries: Seq[String], traced: Boolean, copy: Int): Double = {
    val recs = res.withArray("ops")
    val p0 = now
    var busy = 0.0
    queries.foreach { q =>
      val id = recs.size
      val rec = recs.addObject()
      val dir = outDir.resolve("answers").resolve(s"$q-$k-$copy-$traced").toString
      rec.put("i", id); rec.put("q", q); rec.put("block", k); rec.put("out", dir)
      rec.put("traced", traced); rec.put("copy", copy)
      opKey(id, copy)
      try {
        val a = System.nanoTime()
        tracer(s"op.$q", id) {
          val df = tracer(Run.layer(q), id)(query(q))
          if (tracer.on) tracer("planning", id)(df.queryExecution.executedPlan)
          tracer("spark.execute", id)(df.write.mode("overwrite").parquet(dir))
        }
        rec.put("ms", (System.nanoTime() - a) / 1e6)
      } catch {
        case t: Throwable => rec.put("error", t.toString.take(2000))
      }
      sc.setLocalProperty(OpListener.Key, null)
      // storage held by barrier blocks at the query boundary, then
      // the untimed sweep graft.Bench runs between queries
      val b0 = System.nanoTime()
      rec.put("cached_bytes", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      val (_, sweep) = timed(tracer("barriers.sweep", id)(
        graft.util.Barriers.sweepTransient(sc)))
      rec.put("sweep_ms", sweep * 1e3)
      busy += (System.nanoTime() - b0) / 1e9
    }
    now - p0 - busy
  }
}

object Run {
  /** The graft module a batch query's work lives in. */
  def layer(q: String): String =
    if (q.startsWith("b")) s"graphalgo.$q"
    else if (q.startsWith("d")) s"streams.$q"
    else s"operators.$q"
}
