package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.{CacheRegistry, SparkEntry}
import graft.queries.ExtensionQueries

/** The benchmark's JVM side. perfbench/run.py starts it with a generated
  * fixture and reads the JSON it writes; see perfbench/README.md.
  *
  * Arguments are key=value: workload, data (fixture dir), seed, seconds,
  * trace (0|1), cores, setups, dump (dir for the correctness dump), out
  * (result JSON), spans (trace JSON, traced runs only).
  *
  * One run: `setups` timed set-ups of a fresh session (the first in a
  * cold JVM, the last one kept), one correctness pass that dumps every
  * query's output and is also the warm-up, then timed passes until
  * `seconds` have gone by (at least three; in a traced run at least six,
  * every other one with the [[Probe]] installed). */
object Runner {
  final case class QueryTime(name: String, constructS: Double, executeS: Double,
      ok: Boolean)
  final case class Pass(wallS: Double, traced: Boolean, queries: Seq[QueryTime])

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def writeJson(path: String, value: Any): Unit =
    json.writeValue(new File(path), value)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"argument '$kv' is not key=value")
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val queries = Workloads.byName.getOrElse(a("workload"),
      sys.error(s"unknown workload '${a("workload")}'"))
    val dir = a("data")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val tmp = Paths.get(sys.props("java.io.tmpdir"))

    // ---- set-up, timed several times; the last session is kept
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until a("setups").toInt) {
      if (spark != null) spark.stop()
      // each set-up pays for its own at-rest artifacts
      artifactDirs(tmp).foreach(deleteTree)
      ExtensionQueries.clearArtifactCaches()
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      // Bench's warm-up, then the at-rest tokenizer and index artifacts
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$dir/lineitem.parquet").limit(1).collect()
      ExtensionQueries.seedArtifacts(spark, dir)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val fns = SparkEntry.queries
    val missing = queries.filterNot(fns.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(", ")}")

    // ---- correctness dump (Verify's format), also the warm-up pass
    val errors = mutable.LinkedHashMap.empty[String, String]
    val dump = a("dump")
    new File(dump).mkdirs()
    val w0 = System.nanoTime()
    for (q <- queries.sorted) {
      clearCaches()
      try fns(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
      catch { case e: Throwable => errors(q) = "dump: " + oneLine(e) }
    }
    clearCaches()
    val warmPassS = (System.nanoTime() - w0) / 1e9
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    writeJson(s"$dump/oracle_sql.json", ListMap(oracle.toSeq.sortBy(_._1): _*))

    // ---- timed passes: the seed sets the order of queries in each pass
    val rnd = new scala.util.Random(seed)
    val probe = new Probe
    val samples = new Samples
    val passes = mutable.ArrayBuffer.empty[Pass]
    // A traced run alternates untraced and traced passes, so the warm-up
    // drift that is left weighs on both sides of trace.overhead_frac alike.
    val start = System.nanoTime()
    while (passes.size < (if (traced) 6 else 3) ||
        (System.nanoTime() - start) / 1e9 < seconds) {
      val withProbe = traced && passes.size % 2 == 1
      if (withProbe) {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      passes += runPass(spark, passes.size, rnd.shuffle(queries), fns, dir, errors,
        if (withProbe) Some((probe, samples)) else None)
      if (withProbe) {
        ListenerBusDrain(spark.sparkContext)
        spark.listenerManager.unregister(probe)
        spark.sparkContext.removeSparkListener(probe)
      }
    }

    val layers: Seq[(String, Double)] =
      if (!traced) Seq.empty
      else {
        val l = Layers.compute(probe, samples, passes.toSeq, cores, setupS.head, warmPassS,
          artifactDirs(tmp))
        Layers.selfCheck(probe, samples, queries, dir).foreach(m => errors("selfcheck") = m)
        val spans = samples.spans.toSeq ++ probe.spans ++ Layers.jobSpans(probe, samples)
        writeJson(a("spans"), spans)
        l
      }
    spark.stop()

    writeJson(a("out"), ListMap(
      "queries" -> queries,
      "setup_s" -> setupS.toSeq,
      "passes" -> passes.toSeq.map(p => ListMap(
        "wall_s" -> p.wallS,
        "traced" -> p.traced,
        "queries" -> ListMap(p.queries.map(q =>
          q.name -> (if (q.ok) q.constructS + q.executeS else -1.0)): _*))),
      "errors" -> ListMap(errors.toSeq: _*),
      "layers" -> ListMap(layers: _*)))
  }

  /** Release what one query left behind before the next, as Bench does:
    * operator-persisted branches and memoized artifacts. */
  private def clearCaches(): Unit = {
    CacheRegistry.unpersistAll()
    ExtensionQueries.clearArtifactCaches()
  }

  private def runPass(spark: SparkSession, index: Int, order: Seq[String],
      fns: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      dir: String, errors: mutable.Map[String, String],
      trace: Option[(Probe, Samples)]): Pass = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val times = order.map { q =>
      clearCaches()
      val group = s"pass$index/$q"
      if (trace.isDefined) sc.setJobGroup(group, q)
      val a = System.nanoTime()
      var b = a
      val ok = try {
        val df = fns(q)(spark, dir)
        b = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(q, s"pass $index: " + oneLine(e))
          false
      }
      val c = System.nanoTime()
      if (b == a) b = c
      trace.foreach { case (_, s) =>
        sc.clearJobGroup()
        s.afterQuery(spark, s"pass-$index", group, q, a, b, c)
      }
      QueryTime(q, (b - a) / 1e9, (c - b) / 1e9, ok)
    }
    val t1 = System.nanoTime()
    trace.foreach { case (_, s) => s.pass(s"pass-$index", t0, t1) }
    Pass((t1 - t0) / 1e9, trace.isDefined, times)
  }

  private def oneLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + e.getMessage).replaceAll("\\s+", " ").take(300)

  /** The per-process scratch directories of `graft.queries.Q.tmpArtifactPath`. */
  def artifactDirs(tmp: Path): Seq[Path] =
    Option(tmp.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_")).map(_.toPath)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** One traced query: its job group and the epoch-ms times at which its
  * construction started, its construction ended and its execution ended. */
final case class QuerySample(group: String, name: String, startMs: Double,
    builtMs: Double, endMs: Double)

/** Driver-side samples taken around each traced query: span boundaries,
  * CacheRegistry and block-manager occupancy, heap in use. */
final class Samples {
  val queries = mutable.ArrayBuffer.empty[QuerySample]
  val spans = mutable.ArrayBuffer.empty[Span]
  val passWalls = mutable.ArrayBuffer.empty[(Double, Double)]
  var persistedFrames = 0L
  var peakCachedBytes = 0L
  var peakHeapUsed = 0L
  // System.nanoTime is the clock of the benchmark's own spans; Spark's
  // events carry epoch milliseconds
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  def afterQuery(spark: SparkSession, pass: String, group: String, name: String,
      a: Long, b: Long, c: Long): Unit = {
    persistedFrames += CacheRegistry.registeredCount
    val cached = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    peakCachedBytes = math.max(peakCachedBytes, cached)
    peakHeapUsed = math.max(peakHeapUsed,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    queries += QuerySample(group, name, ms(a), ms(b), ms(c))
    spans += Span(group, pass, "query", name, ms(a), ms(c))
    spans += Span(group + "/construct", group, "construct", name, ms(a), ms(b))
    spans += Span(group + "/execute", group, "execute", name, ms(b), ms(c))
  }

  def pass(id: String, t0: Long, t1: Long): Unit = {
    passWalls += ((ms(t0), ms(t1)))
    spans += Span(id, "", "pass", id, ms(t0), ms(t1))
  }
}
