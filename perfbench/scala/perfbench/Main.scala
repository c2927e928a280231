package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Mysql2Parquet, SparkEntry}

/** The benchmark's JVM side. It reads a plan written by `run.py`, sets
  * up (session, canary, inputs, stored state, warm-up pass), runs the
  * timed passes over the plan's ops, and writes what it measured as one
  * JSON file. It computes no metrics: `run.py` does.
  *
  *   java ... perfbench.Main <plan.json>
  */
object Main {
  private val json = new ObjectMapper()

  /** The catalog modules, by the name the per-layer metrics use. */
  private val modules: Seq[(String, Iterable[String])] = Seq(
    "Relational" -> graft.ops.Relational.queries.keys,
    "Joins" -> graft.ops.Joins.queries.keys,
    "Aggregates" -> graft.ops.Aggregates.queries.keys,
    "Windows" -> graft.ops.Windows.queries.keys,
    "SortSetOps" -> graft.ops.SortSetOps.queries.keys,
    "ScalarFns" -> graft.ops.ScalarFns.queries.keys,
    "Dedup" -> graft.ops.Dedup.queries.keys,
    "TextOps" -> graft.ops.TextOps.queries.keys,
    "CorpusOps" -> graft.ops.CorpusOps.queries.keys,
    "VectorOps" -> graft.ops.VectorOps.queries.keys,
    "EventOps" -> graft.ops.EventOps.queries.keys,
    "LinkageOps" -> graft.ops.LinkageOps.queries.keys,
    "PreferenceOps" -> graft.ops.PreferenceOps.queries.keys,
    "GraphOps" -> graft.ops.GraphOps.queries.keys,
    "Multimodal" -> graft.multimodal.Multimodal.queries.keys)

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val res = json.createObjectNode()
    val cpus = plan.get("cpus").asInt()
    val traced = plan.get("trace").asBoolean()
    val workload = plan.get("kind").asText()

    var t = now()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("tmp_dir").asText())
      .config("spark.sql.warehouse.dir", plan.get("tmp_dir").asText() + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    res.put("session_s", secs(t))

    def sweep(): Unit = sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

    val canaryName = plan.get("canary").asText()
    val canaryDir = plan.get("canary_dir").asText()
    // a fixed op timed right before and right after the timed phase: if
    // the two disagree, the host changed speed during the run
    def canary(): Double = {
      val t0 = now()
      SparkEntry.queries(canaryName)(spark, canaryDir)
        .write.format("noop").mode("overwrite").save()
      val s = secs(t0)
      sweep()
      s
    }

    val ops = plan.get("ops").elements().asScala.map(_.asText()).toIndexedSeq
    val runner: Runner =
      if (workload == "export") new ExportRunner(spark, plan, res, cpus)
      else new CatalogRunner(spark, plan, res)
    runner.setup()
    canary()  // untimed: the warm-up pass need not have run the canary's code
    res.put("canary_start_s", canary())
    val opMod = res.putObject("modules")
    ops.distinct.foreach { q =>
      modules.find(_._2.exists(_ == q)).foreach { case (m, _) => opMod.put(q, m) }
    }
    res.put("setup_jvm_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)

    // Timed phase: whole passes over the plan's ops, each pass in its own
    // seeded order, until `seconds` have gone by. A traced run alternates
    // untraced and traced passes so that it can report its own overhead.
    val recorder = if (traced) Some(new Recorder(plan.get("trace_out").asText())) else None
    val passes = plan.get("passes").elements().asScala.map(
      _.elements().asScala.map(_.asInt()).toIndexedSeq).toIndexedSeq
    val minPasses = plan.get("min_passes").asInt()
    val deadline = now() + (plan.get("seconds").asDouble() * 1e9).toLong
    val opsOut = res.putArray("ops")
    val passOut = res.putArray("passes")
    var p = 0
    while (p < passes.size && (p < minPasses || now() < deadline)) {
      val tracedPass = recorder.isDefined && p % 2 == 1
      recorder.filter(_ => tracedPass).foreach { r =>
        PerfbenchBus.drain(sc)  // the untraced pass's last events are not this pass's
        sc.addSparkListener(r); spark.listenerManager.register(r)
      }
      var busy = 0.0
      passes(p).foreach { i =>
        val span = s"$p.$i"
        recorder.foreach(_.span = span)
        sc.setLocalProperty("perfbench.span", span)
        val rec = opsOut.addObject()
        rec.put("name", ops(i)).put("pass", p).put("span", span).put("traced", tracedPass)
        val t0 = now()
        try {
          runner.run(ops(i), s"$p.$i", rec)
          val s = secs(t0)
          rec.put("ok", true).put("s", s)
          busy += s
        } catch { case e: Throwable =>
          rec.put("ok", false).put("error", String.valueOf(e.getMessage).take(300))
        }
        sc.setLocalProperty("perfbench.span", null)
        sweep()
        if (tracedPass) PerfbenchBus.drain(sc)
      }
      recorder.filter(_ => tracedPass).foreach { r =>
        sc.removeSparkListener(r); spark.listenerManager.unregister(r)
      }
      passOut.addObject().put("traced", tracedPass).put("wall_s", busy)
      p += 1
    }
    recorder.foreach(_.close())

    res.put("canary_end_s", canary())
    spark.stop()
    res.put("vmhwm_kb", Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L))
    json.writeValue(new File(plan.get("out").asText()), res)
  }

  /** Directory size in bytes (state roots). */
  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  private trait Runner {
    def setup(): Unit
    def run(op: String, id: String, rec: ObjectNode): Unit
  }

  /** Catalog workloads: an op is one query, built by its catalog function
    * and written to the noop sink (every column computed). */
  private final class CatalogRunner(spark: SparkSession, plan: JsonNode, res: ObjectNode)
      extends Runner {
    private val sf = plan.get("sf_dir").asText()

    def setup(): Unit = {
      // stored state is built explicitly, so its cost lands in setup
      val state = res.putObject("state")
      plan.get("state").elements().asScala.map(_.asText()).foreach { s =>
        val t0 = now()
        val root = s match {
          case "canon" => graft.ops.Dedup.ensureCanonState(spark, sf)
        }
        state.putObject(s).put("build_s", secs(t0)).put("bytes", dirBytes(new File(root)))
      }
      // warm-up pass: each query once, its output dumped for the oracle
      val t0 = now()
      val dump = plan.get("dump_dir").asText()
      val failed = res.putObject("warmup_failed")
      plan.get("ops").elements().asScala.map(_.asText()).toSeq.distinct.foreach { q =>
        try SparkEntry.queries(q)(spark, sf).coalesce(1).write.mode("overwrite")
          .parquet(s"$dump/$q")
        catch { case e: Throwable => failed.put(q, String.valueOf(e.getMessage).take(300)) }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      val oracle = SparkEntry.oracleSql
      val sql = res.putObject("oracle_sql")
      plan.get("ops").elements().asScala.map(_.asText()).foreach { q =>
        oracle.get(q).foreach(sql.put(q, _))
      }
      res.put("warmup_s", secs(t0))
    }

    def run(op: String, id: String, rec: ObjectNode): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.span", id + ".build")
      val t0 = now()
      val df: DataFrame = SparkEntry.queries(op)(spark, sf)
      rec.put("build_s", secs(t0))
      sc.setLocalProperty("perfbench.span", id)
      df.write.format("noop").mode("overwrite").save()
    }
  }

  /** Export workload: an op is one full JDBC-to-Parquet export of the
    * Derby table through Mysql2Parquet, in one of three modes. */
  private final class ExportRunner(spark: SparkSession, plan: JsonNode, res: ObjectNode,
      cpus: Int) extends Runner {
    private val ex = plan.get("export")
    private val rows = ex.get("rows").asLong()
    private val url = "jdbc:derby:memory:perfbench"
    private val outRoot = ex.get("out_dir").asText()
    private val base = Mysql2Parquet.Config(password = "pw", database = "memory:perfbench",
      query = "SELECT * FROM T", url = Some(url))

    def setup(): Unit = {
      val t0 = now()
      val c = java.sql.DriverManager.getConnection(url + ";create=true;user=root")
      val st = c.createStatement()
      st.execute(ex.get("ddl").asText())
      val call = c.prepareCall("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, 'T', ?, ',', null, null, 0)")
      call.setString(1, ex.get("csv").asText())
      call.execute()
      c.close()
      res.put("load_s", secs(t0))
      // warm-up: two exports per mode, outputs kept for verification
      val t1 = now()
      val outs = res.putArray("warmup_outs")
      for (i <- 0 until 2; m <- Seq("single", "partitioned", "compat")) {
        val rec = json.createObjectNode()
        run(m, s"warm$i", rec)
        outs.add(rec.get("out").asText())
      }
      res.put("warmup_s", secs(t1))
    }

    private def config(mode: String, out: String): Mysql2Parquet.Config = mode match {
      case "single" => base.copy(parquet = out)
      case "partitioned" => base.copy(parquet = out, partitionColumn = Some("ID"),
        numPartitions = cpus, lowerBound = 0L, upperBound = rows)
      case "compat" => base.copy(parquet = out, compat = true, singleFile = true)
    }

    def run(op: String, id: String, rec: ObjectNode): Unit = {
      val out = s"$outRoot/$id.$op"
      val c = config(op, out)
      val t0 = now()
      val df = Mysql2Parquet.reader(spark, c).load()
      rec.put("resolve_s", secs(t0))
      Mysql2Parquet.run(df, c)
      rec.put("out", out)
    }
  }
}
