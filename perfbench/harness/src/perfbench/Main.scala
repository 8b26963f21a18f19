package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** One benchmark run: `Main <plan.json> <out.json>`.
  *
  * Starts a session, sets the workload up and runs the plan's warm-up ops;
  * the set-up time runs from JVM start to the first timed op.  Then runs the
  * op stream as a closed loop with one client until `seconds` have passed
  * and at least `min_ops` ops (one block of the stream) have run.
  * Writes every op's latency and result record, the set-up time with its
  * phases and, when `trace` is on, the spans and per-op engine counters.
  */
object Main {
  implicit val formats: Formats = DefaultFormats
  val Cores = 4

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val plan = parse(new String(Files.readAllBytes(Paths.get(args(0))), UTF_8))
    val workload = (plan \ "workload").extract[String]
    val data = (plan \ "data_dir").extract[String]
    val work = (plan \ "work_dir").extract[String]
    val seconds = (plan \ "seconds").extract[Double]
    val minOps = (plan \ "min_ops").extract[Int]
    val tracing = (plan \ "trace").extract[Boolean]
    val warmup = (plan \ "warmup").children
    val ops = (plan \ "ops").children.toVector
    val tr = new Tracer(tracing)

    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = ArrayBuffer.empty[(String, Long)]
    def phase(name: String): Unit =
      phases += name -> System.currentTimeMillis()
    phase("main")
    val spark = tr.span("spark.session")(session(work))
    phase("session")
    val wl = Workload(workload, spark, data, tr)
    tr.span("setup")(wl.setup(s"$work/state"))
    phase("setup")
    tr.span("warmup")(warmup.foreach(wl.run))
    phase("warmup")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val setupPhases = JObject(phases.toList.zip(jvmStart :: phases.toList
      .map(_._2)).map { case ((name, t), prev) =>
        name -> JDouble((t - prev) / 1000.0) })

    val sc = spark.sparkContext
    val listener = new OpListener
    if (tracing) sc.addSparkListener(listener)
    val records = ArrayBuffer.empty[JObject]
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var i = 0
    while (i < ops.size && (i < minOps || System.nanoTime() < deadline)) {
      val op = ops(i)
      val id = (op \ "id").extract[Int]
      val kind = (op \ "type").extract[String]
      tr.op = id
      if (tracing) sc.setLocalProperty(OpListener.Key, id.toString)
      val gc0 = PlanStats.gcMs()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ran = try Right(tr.span(s"op.$kind")(wl.run(op)))
        catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val w1 = System.currentTimeMillis()
      val gc1 = PlanStats.gcMs()
      if (tracing) sc.setLocalProperty(OpListener.Key, null)
      tr.op = -1
      var rec: JObject = ("id" -> id) ~ ("type" -> kind) ~
        ("t_ms" -> (t0 - start) / 1e6) ~ ("ms" -> ms)
      rec = ran match {
        case Right((k, result)) =>
          try rec ~ ("kind" -> k) ~ ("result" -> result())
          catch { case e: Exception => rec ~ ("kind" -> k) ~
            ("error" -> e.toString) }
        case Left(e) => rec ~ ("kind" -> "read") ~ ("error" -> e.toString)
      }
      if (tracing) rec = rec ~ ("wall" -> List(w0, w1)) ~
        ("gc_ms" -> (gc1 - gc0)) ~
        ("persistent_rdds" -> sc.getPersistentRDDs.size) ~
        ("storage_mb" -> sc.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum / 1e6)
      records += rec
      i += 1
    }
    val timedS = (System.nanoTime() - start) / 1e9
    val heapMb = PlanStats.retainedHeapMb()

    val counted = if (!tracing) records.toList else {
      org.apache.spark.perfbench.Bus.drain(sc)
      records.toList.map { r =>
        val id = (r \ "id").extract[Int]
        val List(w0, w1) = (r \ "wall").extract[List[Long]]
        r ~ ("counters" -> listener.counters(id)) ~
          ("driver_only_ms" -> listener.driverOnlyMs(id, w0, w1)) ~
          ("extras" -> wl.extras.getOrElse(id, JObject()))
      }
    }
    val finish = wl.finish()
    val spans = tr.spans.toList.map(s => JArray(List(JString(s.name),
      JInt(s.op), JInt(s.parent), JInt(s.startNs), JInt(s.endNs))))
    val out: JObject = ("workload" -> workload) ~
      ("config" -> (("master" -> s"local[$Cores]") ~
        ("shuffle_partitions" -> Cores) ~ ("adaptive" -> false) ~
        ("spark" -> spark.version) ~
        ("java" -> sys.props("java.version")) ~
        ("max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6) ~
        ("processors" -> Runtime.getRuntime.availableProcessors))) ~
      ("setup_s" -> setupS) ~ ("setup_phases_s" -> setupPhases) ~
      ("timed_s" -> timedS) ~
      ("retained_heap_mb" -> heapMb) ~ ("ops" -> counted) ~
      ("finish" -> finish) ~ ("spans" -> spans)
    Files.write(Paths.get(args(1)), compact(render(out)).getBytes(UTF_8))
    spark.stop()
  }
}
