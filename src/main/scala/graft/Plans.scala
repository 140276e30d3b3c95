package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** The plan-dump tool, in two forms.
  *
  *   sbt "runMain graft.Plans [sfDir] [out]"       # writes PLANS.md
  *   sbt "runMain graft.Plans capture <outDir> <suffix> [q1,q2,...] [sfDir]"
  *
  * The default form writes the physical operator tree of every gated query
  * at sf0.001 (plan SHAPE is the audit target, not size). Re-run it each
  * round so the committed dump never drifts from the code.
  *
  * `capture` writes the `.explain("formatted")` of the named queries to
  * `<outDir>/<query>_<suffix>.txt` (e.g. plans/r17/foo_before.txt) — the
  * evidence a round's plan-shape claims (Exchange count, join strategy,
  * PushedFilters/ReadSchema, WholeStageCodegen spans) are checked
  * against; formatted mode names pushed filters and read schemas per scan,
  * which the tree dump elides. With no query list it captures every
  * declared query. Besides the gates it accepts `graph_pagerank_iter` and
  * `graph_pagerank_directed_iter`, the per-iteration plans of the PageRank
  * loops (see `Graph.iterationPlans`).
  */
object Plans {
  private val DefaultSf = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    val spark = Session.local(4, 32)
    spark.sparkContext.setLogLevel("ERROR")
    try args.toList match {
      case "capture" :: rest => capture(spark, rest)
      case rest => writePlansMd(spark, rest.headOption.getOrElse(DefaultSf),
        rest.lift(1).getOrElse("PLANS.md"))
    } finally spark.stop()
  }

  private def capture(spark: SparkSession, args: List[String]): Unit = {
    require(args.length >= 2,
      "usage: Plans capture <outDir> <suffix> [q1,q2,...] [sfDir]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val plans: Map[String, (SparkSession, String) => DataFrame] =
      SparkEntry.queries ++ graft.ops.Graph.iterationPlans
    val names: Seq[String] = args.lift(2).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val sfDir = args.lift(3).getOrElse(DefaultSf)
    Files.createDirectories(outDir)
    names.foreach { name =>
      val fn = plans.getOrElse(name, sys.error(s"unknown query: $name"))
      val txt =
        try fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"<explain failed: ${e.getMessage}>" }
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"[plans] $name -> ${name}_$suffix.txt")
    }
  }

  private def writePlansMd(spark: SparkSession, sfDir: String, out: String): Unit = {
    val sb = new StringBuilder
    sb ++= "# PLANS — physical operator trees for every gated query\n\n"
    sb ++= "Generated at sf0.001 (plan shape, not size, is the audit target).\n"
    sb ++= "Field-level detail elided; `*(n)` marks whole-stage-codegen spans.\n"
    sb ++= "Expression ids and plan_id values are normalized to `x` (ADVICE\n"
    sb ++= "r17) so regeneration diffs show only structural changes.\n\n"
    sb ++= "Reading broadcast choices in this dump: a BroadcastExchange over a\n"
    sb ++= "FileScan of an SF-growing table is usually a STATS-DRIVEN pick that\n"
    sb ++= "self-corrects at scale (past the autoBroadcastJoinThreshold the same\n"
    sb ++= "plan degrades gracefully to a shuffled join). The shape that does NOT\n"
    sb ++= "self-correct — and is therefore hinted explicitly and pinned by\n"
    sb ++= "PlanSpec — is a join where one side is a checkpointed RDD with no\n"
    sb ++= "stats (Catalyst then broadcasts the OTHER side however big it gets:\n"
    sb ++= "see llm_semdedup's label join and llm_substring_excise's slice join).\n\n"
    sb ++= "A `LocalTableScan` feeding a component-census aggregate (the\n"
    sb ++= "graph/cluster gates) is the BOUNDED driver-local fast path for\n"
    sb ++= "<=200k-edge pair graphs (TextRank precedent; spark.graft.cc.\n"
    sb ++= "localEdgeMax=0 disables). The distributed star contraction is the\n"
    sb ++= ">200k path — law-equal in GraphSpec, probed at 10x in ScaleProbe's\n"
    sb ++= "forced-distributed chain section.\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val tree =
        try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"<plan failed: ${e.getMessage}>" }
      // Normalize nondeterministic identifiers (ADVICE r17): expression
      // ids (#NNNN, session-lifetime counters) and plan_id values churn
      // on every regeneration without any structural change, drowning
      // the meaningful diffs. Stripping them AFTER the length trim
      // would shift the cut column run-to-run, so normalize first.
      val normalized = tree
        .replaceAll("#\\d+", "#x")
        .replaceAll("plan_id=\\d+", "plan_id=x")
      val trimmed = normalized.linesIterator
        .map(l => if (l.length > 110) l.take(107) + "..." else l)
        .mkString("\n")
      sb ++= s"\n## $name\n\n```\n$trimmed\n```\n"
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
  }
}
