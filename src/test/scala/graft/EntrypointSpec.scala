package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The entrypoints' shared plumbing: the one session factory every
  * `main` and this suite build through, and the plan dumps. */
class EntrypointSpec extends SparkSuite {

  test("GraftSession sets the shared session conf") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering") ==
      "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("only GraftSession builds a Spark session") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val hits = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(_.getFileName.toString).toSeq
    assert(hits == Seq("GraftSession.scala"),
      s"session builders outside GraftSession: $hits")
  }

  test("one file assigns a session's runtime rules, called by install alone") {
    def files(re: scala.util.matching.Regex): Seq[String] =
      Files.walk(Paths.get("src")).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          re.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
        .map(_.getFileName.toString).toSeq.sorted
    // split so this file does not match itself
    val assigned = files(("extra" + """(Strategies|Optimizations)\s*[:+]*=(?!=)""").r)
    assert(assigned == Seq("bridge.scala"), s"rules assigned outside bridge: $assigned")
    // GraftSql.install, and Search.installAutoFusion's opt-in rule
    val adders = files(("bridge" + """\.(addRules|install\w*)\(""").r)
    assert(adders == Seq("GraftExtensions.scala", "Search.scala"),
      s"rules added outside GraftSql.install: $adders")
  }

  test("every strategy and optimizer rule object in src/main is in GraftSql's list") {
    val main = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString("\n")
    def objects(parent: String): Set[String] =
      ("""object\s+(\w+)\s+extends\s+(?:[\w.]+\.)?""" + parent).r
        .findAllMatchIn(main).map(_.group(1)).toSet
    def names(xs: Seq[AnyRef]): Set[String] =
      xs.map(_.getClass.getSimpleName.stripSuffix("$")).toSet
    assert(objects("""SparkStrategy\b""") == names(GraftSql.strategies))
    // the one exception: AutoFuseTopK is opt-in (Search.installAutoFusion)
    // because it rewrites the reference the fused nodes are checked against
    val rules = names(GraftSql.optimizerRules)
    assert(!rules.contains("AutoFuseTopK"))
    assert(objects("""Rule\[LogicalPlan\]""") == rules + "AutoFuseTopK")
  }

  test("Plans per-query dump: one file per key, '#' mapped to '_'") {
    val out = Files.createTempDirectory("graft-plans")
    val names = Seq("q1_agg", "text_tokens", "dedup_shingles#build")
    val files = Plans.dump(spark, sfDir, out.toString, "before", names)
    assert(files.map(_.getFileName.toString) == Seq(
      "q1_agg_before.txt", "text_tokens_before.txt",
      "dedup_shingles_build_before.txt"))
    assert(Files.list(out).count() == 3)
    // expression, exchange and RDD ids differ between two constructions
    // of a query
    def masked(s: String) = s.replaceAll("(#|plan_id=|RDD\\[)\\d+", "$1")
    val catalog = SparkEntry.queries ++ SparkEntry.benchPhases
    names.zip(files).foreach { case (name, f) =>
      val plan = catalog(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(masked(Files.readString(f)) == masked(
        s"NOTE: 'before' plan, $sfDir.\n\n```\n$plan```\n"), name)
    }
  }
}
