package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{QueryDef, Registry}
import graft.operators.Etl
import graft.sinks.Sinks
import graft.sources.PaginatedSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The benchmark's JVM side: one closed-loop client on `local[cores]`.
  *
  * It sets up a session, runs the checked pass (untimed, it produces the
  * outputs the checks compare), then loops whole passes of the workload for
  * the requested seconds, two passes at least. With `--trace 1` the ops of
  * the measured window alternate between traced and untraced (each op's
  * parity flips from one pass to the next, so every op name gets both over
  * two passes), and the analysis reports the tracing overhead from the
  * pairs. Everything recorded is written as one JSON file
  * at exit; `run.py` turns it into metrics.
  *
  * Usage: `perfbench.Harness --mode queries|etl --out FILE --work DIR
  *   --seconds S --trace 0|1 --cores N
  *   [--data DIR --plan name:family,...]
  *   [--seed N --bulk-items N --round-items N --rounds K --dup-per-page N
  *    --bad-date-share F --unauth-rate F]`
  */
object Harness {

  final case class Sample(op: Long, name: String, family: String, phase: String,
                          startUs: Long, endUs: Long, buildUs: Long, rows: Long,
                          counters: Map[String, Long])

  final class Run(val spark: SparkSession, val tracer: Tracer, val work: String) {
    val samples = ArrayBuffer.empty[Sample]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    /** Workload counters an op records as deltas, next to the JVM's. */
    var counters: () => Map[String, Long] = () => Map.empty
    /** Set for the measured window of a traced run: ops alternate. */
    var alternate = false
    private var pass = 0
    private var opInPass = 0

    def startPass(): Unit = { pass += 1; opInPass = 0 }

    def check(name: String, ok: Boolean, detail: String): Unit = {
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    }

    /** Runs `body` as one op under job group "pb-<op>"; `body` gets the op id
      * and returns (build end, rows). */
    def op(name: String, family: String, phase: String)(body: Long => (Long, Long)): Sample = {
      val id = tracer.newId()
      val traced = alternate && (opInPass + pass) % 2 == 1
      opInPass += 1
      val ph = if (!alternate) phase else if (traced) "traced" else "untraced"
      val sc = spark.sparkContext
      if (traced) tracer.start()
      sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
      val c0 = opCounters()
      val t0 = tracer.nowUs()
      val (built, rows) = try body(id) finally sc.clearJobGroup()
      val t1 = tracer.nowUs()
      val c1 = opCounters()
      if (traced) tracer.stop()
      tracer.add(Span(id, -1L, id, "op", name, t0, t1, Map("family" -> family, "phase" -> ph)))
      // untimed: drop the op's cached blocks so every op starts clean
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val s = Sample(id, name, family, ph, t0, t1, built - t0, rows,
        c1.map { case (k, v) => k -> (v - c0(k)) })
      samples += s
      s
    }

    private def opCounters(): Map[String, Long] = jvmCounters() ++ counters()

    /** A timed call into one layer, recorded as a span under `op`. */
    def layer[T](op: Long, layer: String, name: String)(body: => T): T = {
      val t0 = tracer.nowUs()
      val r = body
      tracer.span(op, op, layer, name, t0, tracer.nowUs())
      r
    }
  }

  // ---------------------------------------------------------------- queries

  /** Registry queries: build = the call into `QueryDef.fn`, execute = the
    * noop-sink materialisation (or, on the verify pass, a one-file parquet
    * write the oracle compare reads back). */
  trait Workload {
    /** The checked pass: the first, untimed pass over the workload. */
    def warmup(): Unit
    /** One whole pass, its ops recorded as `phase`. */
    def pass(phase: String): Unit
    /** Workload-specific entries for the span file. */
    def extra(): Map[String, Any]
  }

  final class QueryWorkload(run: Run, data: String, plan: Seq[(QueryDef, String)])
      extends Workload {
    import run._

    def runOne(q: QueryDef, family: String, phase: String, verifyDir: Option[String]): Sample =
      op(q.name, family, phase) { id =>
        val df = layer(id, "queries", "build")(q.fn(spark, data))
        val built = tracer.nowUs()
        layer(id, "execute", q.name) {
          verifyDir match {
            case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/${q.name}")
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
        (built, 0L)
      }

    def warmup(): Unit = {
      val dir = s"$work/verify"
      plan.foreach { case (q, f) =>
        try runOne(q, f, "warmup", Some(dir))
        catch { case e: Throwable =>
          check(s"run:${q.name}", ok = false, String.valueOf(e.getMessage).take(300))
        }
      }
    }

    def pass(phase: String): Unit = plan.foreach { case (q, f) => runOne(q, f, phase, None) }

    def extra(): Map[String, Any] =
      Map("oracles" -> plan.flatMap { case (q, _) => q.oracle.map(q.name -> _) }.toMap)
  }

  // -------------------------------------------------------------------- etl

  final case class EtlPlan(seed: Long, bulkItems: Int, roundItems: Int, rounds: Int,
                           dupPerPage: Int, badDateShare: Double, unauthRate: Double)

  /** The reference pipeline with writes: bulk load through
    * PaginatedSource.bulkExtract -> Etl.dedupByHash -> Sinks.bulkReplace, then
    * `rounds` incremental rounds of PaginatedSource.incrementalExtract ->
    * Sinks.appendNew into the same parquet sink, each round's API holding
    * `roundItems` more items. One cycle = bulk + rounds; a cycle ends with the
    * untimed sink checks. */
  final class EtlWorkload(run: Run, p: EtlPlan, cores: Int) extends Workload {
    import run._
    val counters = new BenchPageClient.Counters(spark)
    val sink = s"$work/sink"
    val tieBreak = Seq("url", "order")
    private var cycle = 0

    def client(items: Int): PaginatedSource.PageClient = {
      val c = counters
      new PaginatedSource.RetryingClient(
        new BenchPageClient(p.seed, items, PaginatedSource.PageSize, p.dupPerPage,
          p.badDateShare, p.unauthRate, c),
        () => c.retries.add(1))
    }
    val probe = new BenchPageClient(p.seed, 0, PaginatedSource.PageSize, p.dupPerPage,
      p.badDateShare, p.unauthRate, counters)

    private val (bulkDistinct, _) = probe.expected(p.bulkItems)
    run.counters = () => Map("pages" -> counters.pages.value,
      "items_fetched" -> counters.items.value, "bytes_fetched" -> counters.bytes.value,
      "fetch_ns" -> counters.fetchNs.value, "retries" -> counters.retries.value)

    /** One bulk load and its rounds. The extract and dedup calls only build
      * plans (plus the page-1 count pre-flight), so their spans are layer
      * "build"; the Sinks.* actions run the whole fused pipeline. */
    def runCycle(phase: String): Unit = {
      cycle += 1
      op("bulk", "etl", phase) { id =>
        val df = layer(id, "build", "bulkExtract")(
          PaginatedSource.bulkExtract(spark, client(p.bulkItems), cores))
        val deduped = layer(id, "build", "dedupByHash")(Etl.dedupByHash(df, "hash", tieBreak))
        val built = tracer.nowUs()
        layer(id, "sinks", "bulkReplace")(Sinks.bulkReplace(deduped, sink))
        (built, bulkDistinct)
      }
      val afterBulk = verifySpan("bulk")(spark.read.parquet(sink).count())
      check(s"etl.bulk_rows#$cycle", afterBulk == bulkDistinct, s"$afterBulk landed, $bulkDistinct distinct")
      var appended = 0L
      for (k <- 1 to p.rounds) {
        val items = p.bulkItems + k * p.roundItems
        op("round", "etl", phase) { id =>
          val existing = spark.read.parquet(sink)
          val dbCount = layer(id, "sinks", "count")(existing.count())
          val merged = layer(id, "build", "incrementalExtract")(
            PaginatedSource.incrementalExtract(spark, client(items), existing, dbCount, cores))
          val built = tracer.nowUs()
          val n = layer(id, "sinks", "appendNew")(
            Sinks.appendNew(spark, merged, sink, "hash", tieBreak))
          appended += n
          (built, n)
        }
      }
      verifySpan("cycle") {
        val out = spark.read.parquet(sink)
        val rows = out.count()
        val hashes = out.select("hash").distinct().count()
        val nullDates = out.filter(col("date").isNull).count()
        val (distinct, bad) = probe.expected(p.bulkItems + p.rounds * p.roundItems)
        check(s"etl.hash_unique#$cycle", rows == hashes, s"$rows rows, $hashes hashes")
        check(s"etl.rows_landed#$cycle", rows == distinct, s"$rows landed, $distinct distinct items")
        check(s"etl.null_dates#$cycle", nullDates == bad, s"$nullDates null dates, $bad bad-date items")
        check(s"etl.append_sum#$cycle", appended == rows - afterBulk,
          s"appendNew returned $appended, sink grew by ${rows - afterBulk}")
      }
    }

    private def verifySpan[T](name: String)(body: => T): T = {
      val t0 = tracer.nowUs()
      val r = body
      tracer.span(-1L, -1L, "verify", name, t0, tracer.nowUs())
      r
    }

    def warmup(): Unit = runCycle("warmup")

    def pass(phase: String): Unit = runCycle(phase)

    def extra(): Map[String, Any] = Map("etl" -> sinkStats())

    private def sinkStats(): Map[String, Any] = {
      val files = Option(new File(sink).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val items = p.bulkItems + p.rounds * p.roundItems
      val (distinct, bad) = probe.expected(items)
      Map("files" -> files.length, "bytes" -> files.map(_.length).sum,
        "rows" -> spark.read.parquet(sink).count(), "cycles" -> cycle,
        "input" -> Map("bulk_items" -> p.bulkItems, "round_items" -> p.roundItems,
          "rounds" -> p.rounds, "page_size" -> PaginatedSource.PageSize,
          "api_items" -> items, "distinct_items" -> distinct, "bad_date_items" -> bad,
          "dup_share" -> p.dupPerPage.toDouble / PaginatedSource.PageSize,
          "bad_date_share" -> p.badDateShare, "unauth_rate" -> p.unauthRate))
    }
  }

  /** Each pass costs less than the one before it (the JIT and Spark's caches
    * are still warming), so a run's per-op figures depend on how many passes
    * it made. With this floor and 12 s windows, every run on a shared 4-vCPU
    * machine made two passes, whether the host was quiet or busy. */
  val MinPasses = 2

  /** Whole passes until `seconds` have elapsed and at least [[MinPasses]]
    * have run, recorded as one "phase" span. */
  def loop(run: Run, w: Workload, seconds: Double, phase: String): Unit = {
    val tracer = run.tracer
    tracer.measuring.set(true)
    val steal0 = stealTicks()
    val t0 = tracer.nowUs()
    var passes = 0
    while (passes < MinPasses || tracer.nowUs() - t0 < seconds * 1e6) {
      run.startPass(); w.pass(phase); passes += 1
    }
    val t1 = tracer.nowUs()
    org.apache.spark.GraftSparkHooks.drainListenerBus(tracer.sparkContext, 60000L)
    tracer.measuring.set(false)
    tracer.span(-1L, -1L, "phase", phase, t0, t1,
      Map("passes" -> passes, "steal_ticks" -> (stealTicks() - steal0)))
  }

  // ------------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark)
    val sessionReadyUs = tracer.nowUs()
    val run = new Run(spark, tracer, work)

    val w: Workload = a("mode") match {
      case "queries" =>
        val plan = a("plan").split(",").toSeq.map { s =>
          val Array(n, f) = s.split(":")
          Registry.byName(n) -> f
        }
        new QueryWorkload(run, a("data"), plan)
      case "etl" =>
        new EtlWorkload(run, EtlPlan(a("seed").toLong, a("bulk-items").toInt,
          a("round-items").toInt, a("rounds").toInt, a("dup-per-page").toInt,
          a("bad-date-share").toDouble, a("unauth-rate").toDouble), cores)
    }

    val w0 = System.nanoTime()
    w.warmup()
    val checkedS = (System.nanoTime() - w0) / 1e9
    if (traced) {
      tracer.install()
      run.alternate = true
      loop(run, w, seconds, "measure")
      run.alternate = false
      tracer.uninstall()
    } else loop(run, w, seconds, "measure")

    val out = Map(
      "cores" -> cores, "trace" -> traced,
      "setup" -> Map("session_s" -> sessionS, "session_ready_us" -> sessionReadyUs,
        "checked_pass_s" -> checkedS),
      "samples" -> run.samples.map(s => Map("op" -> s.op, "name" -> s.name,
        "family" -> s.family, "phase" -> s.phase, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "build_us" -> s.buildUs, "rows" -> s.rows,
        "counters" -> s.counters)),
      "checks" -> run.checks,
      "mem" -> Map("peak_exec_bytes" -> tracer.peakExecBytes.get, "vm_hwm_kb" -> vmHwmKb()),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "attrs" -> s.attrs)),
      "task_fields" -> Tracer.TaskFields,
      "tasks" -> tracer.tasks.map(_.toSeq)) ++ w.extra()
    Files.writeString(Paths.get(a("out")), Json.write(out))
    spark.stop()
  }

  /** Monotonic JVM-wide counters an op records as deltas: process CPU time
    * (all threads), JIT compilation and GC time, and Spark whole-stage
    * codegen compilations. */
  def jvmCounters(): Map[String, Long] = {
    import java.lang.management.ManagementFactory
    Map(
      "process_cpu_ns" -> ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      "codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** The machine's CPU steal ticks (Linux /proc/stat: time the hypervisor
    * ran something else on this VM's CPUs), or -1 where unavailable. */
  def stealTicks(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).asScala.headOption
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  /** Peak resident set of this JVM (Linux /proc), or -1 where unavailable. */
  def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }
}

/** Minimal JSON writer for the span file (maps, sequences, strings, numbers,
  * booleans). */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => put(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => put(sb, f.toDouble)
    case n: Number => sb.append(n.toString)
    case m: collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(','); str(sb, k.toString); sb.append(':'); put(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      xs.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); put(sb, x) }
      sb.append(']')
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
