package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.CyclicBarrier
import java.util.concurrent.locks.ReentrantLock
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `perfbench/run.py` writes a spec file and
  * starts one JVM per set-up or run; this object builds the session, runs
  * the passes and writes raw records (per query, per pass, per tag) as JSON.
  * All statistics are computed by run.py.
  *
  * Modes:
  *  - `run`:    set-up, then one pass per entry of `orders` (the first is
  *              the cold pass, the others warm passes).
  *              Each client is a thread running its own key order on the
  *              one shared session; a pass ends when every client is done.
  *              With `trace`, the cold pass and every other warm pass run
  *              with the listener and job-group tags; the others run bare,
  *              so the run measures its own tracing overhead.
  *  - `verify`: write the full rows of every key with oracle SQL as
  *              parquet, for the DuckDB comparison in tools/preflight.py,
  *              and record each key's digest.
  */
object Harness {
  val TagPrefix = "perfbench|"
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private def nowMs: Double = (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val fixture = spec.get("fixture").asText
    val (spark, setup) = setUp(spec)
    val first = setup + ("total_ms" -> ManagementFactory.getRuntimeMXBean.getUptime.toDouble)
    val result: Map[String, Any] = spec.get("mode").asText match {
      case "run" => run(spark, fixture, spec)
      case "verify" => verify(spark, fixture, spec)
    }
    spark.stop()
    // Further set-ups in this JVM: a new SparkContext and session, the
    // tables registered again and the warm-up query run again.
    val again = (1 until Option(spec.get("setups")).map(_.asInt).getOrElse(1)).map { _ =>
      val t0 = nowMs
      val (s, parts) = setUp(spec)
      s.stop()
      parts + ("total_ms" -> (nowMs - t0))
    }
    mapper.writeValue(new File(spec.get("out").asText), result ++ Map("setups" -> (first +: again)))
  }

  /** Session up, tables registered (`Tables.registerAll`), warm-up query
    * done; the set-up `graft.Bench` does, with the benchmark's config. */
  private def setUp(spec: JsonNode): (SparkSession, Map[String, Double]) = {
    val cores = spec.get("cores").asInt
    val t0 = nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", spec.get("warehouse").asText)
      .config("spark.local.dir", spec.get("local_dir").asText)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = nowMs
    val fixture = spec.get("fixture").asText
    graft.Tables.registerAll(spark, fixture)
    val t2 = nowMs
    spark.read.parquet(s"$fixture/lineitem.parquet").groupBy("l_returnflag").count().count()
    val t3 = nowMs
    (spark, Map("session_ms" -> (t1 - t0), "register_ms" -> (t2 - t1), "warmup_ms" -> (t3 - t2),
      "start" -> t0, "end" -> t3))
  }

  /** Key sequences, one per client. */
  private def orders(node: JsonNode): Seq[Seq[String]] =
    node.elements.asScala.map(_.elements.asScala.map(_.asText).toSeq).toSeq

  private def run(spark: SparkSession, fixture: String, spec: JsonNode): Map[String, Any] = {
    val passOrders = spec.get("orders").elements.asScala.map(orders).toSeq
    val trace = spec.get("trace").asBoolean
    val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val jobSpans = mutable.ArrayBuffer.empty[Any]
    val stageSpans = mutable.ArrayBuffer.empty[Any]
    val counters = mutable.Map.empty[String, Map[String, Any]]
    // Keys graft cannot run twice at once on one session (they write a
    // per-JVM landing path or the IndexStore directory, a known defect): at
    // most one client runs each of them at a time.
    val locks = Option(spec.get("one_at_a_time")).toSeq.flatMap(_.elements.asScala.map(_.asText))
      .map(_ -> new ReentrantLock()).toMap

    def onePass(pass: Int, traced: Boolean): Unit = {
      val perClient = passOrders(pass)
      val listener = if (traced) Some(new TraceListener(epochMs0)) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val before = JvmCounters()
      val barrier = new CyclicBarrier(perClient.size)
      val records = Array.fill(perClient.size)(mutable.ArrayBuffer.empty[Map[String, Any]])
      var start = 0.0
      val threads = perClient.zipWithIndex.map { case (keys, client) =>
        new Thread(() => {
          if (barrier.await() == 0) start = nowMs
          keys.foreach { k =>
            locks.get(k).foreach(_.lock())
            try {
              val outerStart = nowMs
              val r = runQuery(spark, fixture, pass, client, k, traced)
              records(client) += r ++ Map("outer_start" -> outerStart, "outer_end" -> nowMs)
            } finally locks.get(k).foreach(_.unlock())
          }
        }, s"perfbench-client-$client")
      }
      val t0 = nowMs
      threads.foreach(_.start())
      threads.foreach(_.join())
      val end = nowMs
      val after = JvmCounters()
      listener.foreach { l =>
        org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
        l.synchronized {
          jobSpans ++= l.jobSpans.map(_.toMap)
          stageSpans ++= l.stageSpans.map(_.toMap)
          counters ++= l.counters.map { case (t, c) => t -> c.toMap }
        }
      }
      val passRecords = records.toSeq.flatten.map { q =>
        listener.fold(q) { l =>
          val id = s"$pass|${q("client")}|${q("key")}"
          q + ("busy_ms" -> l.busyMs(id, q("start").asInstanceOf[Double], q("end").asInstanceOf[Double]))
        }
      }
      queries ++= passRecords
      passes += Map("pass" -> pass, "traced" -> traced, "start" -> (if (start > 0) start else t0),
        "end" -> end) ++ after.minus(before)
    }

    for (pass <- passOrders.indices) onePass(pass, trace && (pass == 0 || pass % 2 == 1))
    // Events still queued on the listener bus hold objects, so deliver them
    // first; the ContextCleaner frees broadcast and shuffle blocks only after
    // a GC has cleared their references, so collect a few times with pauses.
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Map("cores" -> spark.sparkContext.defaultParallelism, "queries" -> queries,
      "passes" -> passes, "jobs" -> jobSpans, "stages" -> stageSpans,
      "counters" -> counters, "retained_heap_bytes" -> heap,
      "persisted_rdds_at_end" -> spark.sparkContext.getPersistentRDDs.size)
  }

  /** One query: construct (the call into the query function), plan (the
    * physical plan), execute (every result row, folded into the digest).
    * Traced queries tag their jobs with `pass|client|key|phase` and record
    * planning-phase times, the session conf entries the query left changed
    * and the RDDs left persisted. */
  private def runQuery(spark: SparkSession, fixture: String, pass: Int, client: Int,
      key: String, traced: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    def phase(p: String): Unit =
      if (traced) sc.setJobGroup(s"$TagPrefix$pass|$client|$key|$p", key, interruptOnCancel = false)
    val confBefore = if (traced) spark.conf.getAll else Map.empty[String, String]
    val base = Map[String, Any]("pass" -> pass, "client" -> client, "key" -> key, "traced" -> traced)
    phase("construct")
    val t0 = nowMs
    var t1, t2 = Double.NaN
    val outcome: Map[String, Any] = try {
      val df = graft.Queries.all(key)(spark, fixture)
      t1 = nowMs
      phase("plan")
      val qe = df.queryExecution
      qe.executedPlan
      t2 = nowMs
      phase("execute")
      val d = Digest(df)
      val phases = if (traced) qe.tracker.phases.map { case (k, v) => k -> v.durationMs } else Map.empty
      Map("rows" -> d.rows, "digest" -> d.digest, "planning_ms" -> phases)
    } catch {
      case e: Throwable =>
        Map("error" -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
    }
    val t3 = nowMs
    if (traced) sc.clearJobGroup()
    val extra = if (!traced) Map.empty[String, Any] else {
      val after = spark.conf.getAll
      val drift = (confBefore.keySet ++ after.keySet).count(k => confBefore.get(k) != after.get(k))
      Map("conf_drift" -> drift, "persisted_rdds" -> sc.getPersistentRDDs.size)
    }
    // a query that threw has no end for the phases after the one that threw
    val phases = Seq("constructed" -> t1, "planned" -> t2).filterNot(_._2.isNaN)
    base ++ outcome ++ extra ++ phases ++ Map("start" -> t0, "end" -> t3)
  }

  private def verify(spark: SparkSession, fixture: String, spec: JsonNode): Map[String, Any] = {
    val dir = spec.get("verify_dir").asText
    val keys = graft.SparkEntry.oracleSql.keySet.intersect(graft.Queries.all.keySet).toSeq.sorted
    val digests = keys.map { key =>
      key -> (try {
        val df = graft.Queries.all(key)(spark, fixture)
        val d = Digest(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$key")
        d.digest
      } catch { case e: Throwable => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}" })
    }.toMap
    mapper.writeValue(new File(s"$dir/oracle_sql.json"), graft.SparkEntry.oracleSql)
    Map("digests" -> digests)
  }
}

/** Process-wide counters read at pass boundaries: GC and JIT time from the
  * JVM's management beans, whole-stage-codegen compile time and the number
  * of generated classes from Spark's codegen metrics. */
final case class JvmCounters(gcMs: Long, jitMs: Long, codegenNs: Long, codegenClasses: Long) {
  def minus(o: JvmCounters): Map[String, Any] = Map(
    "gc_ms" -> (gcMs - o.gcMs), "jit_ms" -> (jitMs - o.jitMs),
    "codegen_ns" -> (codegenNs - o.codegenNs), "codegen_classes" -> (codegenClasses - o.codegenClasses))
}

object JvmCounters {
  def apply(): JvmCounters = JvmCounters(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    CodeGenerator.compileTime,
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
}
