package graft.ops.llm

import graft.SparkSpec
import graft.state.Materialize
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

/** Contract of `Materialize.memo`, the one memo layer behind every
  * session-lived intermediate (the suffix index of SuffixIndex
  * `forDir`/`forFrame`, Dedup's MinHash pairs, embedding pairs, IVF
  * counts and span frame, TextStats' winnow selection): a MISS hit by N
  * threads at once runs the expensive build EXACTLY once and every
  * caller receives the identical instance; the key names the pin regime,
  * so a regime switch rebuilds; nested builds complete; a failed build
  * is not cached; names do not collide; stopped sessions' entries go.
  * The build count is the memo's own cold-build record.
  *
  * Why it matters at scale: on a long-lived shared session (a Spark
  * Connect server, a notebook gateway) the first two analysts to touch
  * the suffix gates race; a broken memo would double the dominant build
  * cost and — worse — strand one build's retained pins with no owner.
  */
class MemoCacheSpec extends SparkSpec {

  import spark.implicits._

  /** Per-run nonce in every memo key: the memo layer and its build
    * record are JVM-global, so a hard-coded key would make a SECOND
    * execution in one test JVM (testQuick rerun, suite retry) hit the
    * already-installed entry and fail the exactly-one-build assertion
    * even though memoization works.
    */
  private val runTag = java.util.UUID.randomUUID().toString.take(8)

  private def builds(name: String = SuffixIndex.MemoName): Int =
    Materialize.coldBuilds(name).count

  private def corpus(tag: String, n: Int) =
    (0 until n).map(i => (i.toLong, s"doc $tag $i shares the planted dup " +
        s"payload ABCDEFGH-$tag plus unique tail ${i * 7919}"))
      .toDF("doc_id", "text")

  test("8 concurrent forFrame misses on one fingerprint run exactly one " +
       "build and all callers share the identical Index instance") {
    val docs = corpus("memo-a", 12)
    val before = builds()
    val idxs = Await.result(
      Future.sequence((1 to 8).map(_ =>
        Future(SuffixIndex.forFrame(docs, s"memo-spec-single-$runTag")))),
      5.minutes)
    assert(builds() - before === 1,
      "the memo must run the build exactly once per key")
    assert(idxs.forall(_ eq idxs.head),
      "every concurrent caller must receive the same memoized Index")
    // and the shared index is fully consumable: one suffix per byte
    val totalBytes = docs.agg(sum(octet_length($"text"))).head().getLong(0)
    assert(idxs.head.nSuffixes === totalBytes)
    assert(idxs.head.finalRanks.count() === totalBytes)
  }

  test("distinct fingerprints racing on the same cache build " +
       "independently with no cross-talk") {
    val docsB = corpus("memo-b", 6)
    val docsC = corpus("memo-c", 9)
    val before = builds()
    val Seq(ib, ic) = Await.result(
      Future.sequence(Seq(
        Future(SuffixIndex.forFrame(docsB, s"memo-spec-b-$runTag")),
        Future(SuffixIndex.forFrame(docsC, s"memo-spec-c-$runTag")))),
      5.minutes)
    assert(builds() - before === 2,
      "each distinct key must pay its own build")
    assert(!(ib eq ic), "distinct keys must not alias one Index")
    val bytesB = docsB.agg(sum(octet_length($"text"))).head().getLong(0)
    val bytesC = docsC.agg(sum(octet_length($"text"))).head().getLong(0)
    assert(ib.nSuffixes === bytesB)
    assert(ic.nSuffixes === bytesC)
    // a revisit on either key is a pure hit — no third build
    assert(SuffixIndex.forFrame(docsB, s"memo-spec-b-$runTag") eq ib)
    assert(builds() - before === 2)
  }

  test("switching the pin regime between two forFrame calls rebuilds; " +
       "switching back is a hit") {
    val docs = corpus("memo-regime", 5)
    Seq(Materialize.ModeKey -> "reliable",
        Materialize.AdaptivePinBytesKey -> "1").foreach { case (key, value) =>
      val fp = s"memo-spec-regime-$key-$runTag"
      val first = SuffixIndex.forFrame(docs, fp)
      val before = builds()
      val switched = withConf(key -> value)(SuffixIndex.forFrame(docs, fp))
      assert(builds() - before === 1, s"$key=$value must rebuild")
      assert(!(switched eq first),
        s"$key=$value must not serve the other regime's Index")
      assert(switched.nSuffixes === first.nSuffixes)
      assert(SuffixIndex.forFrame(docs, fp) eq first,
        s"restoring $key must hit the first regime's entry")
      assert(builds() - before === 1)
    }
  }

  test("a build that calls memo for another key completes, and each key " +
       "is built once (the embedding-pairs -> IVF-count shape)") {
    val (outer, inner) = (s"memo-spec-outer-$runTag", s"memo-spec-inner-$runTag")
    def lookup(): (Object, Object) =
      Materialize.memo(spark, outer, "corpus") { _ =>
        val count = Materialize.memo(spark, inner, "corpus")(_ => new Object)
        (new Object, count)
      }
    val got = Await.result(Future.sequence((1 to 4).map(_ => Future(lookup()))),
      1.minute)
    assert(got.forall(_ eq got.head))
    assert(Materialize.memo(spark, inner, "corpus")(_ => new Object) eq
      got.head._2, "the nested build's entry must be served to later callers")
    assert(builds(outer) === 1 && builds(inner) === 1)
  }

  test("a build that throws is not cached: the next call rebuilds") {
    val name = s"memo-spec-throws-$runTag"
    var attempts = 0
    def lookup(): String = Materialize.memo(spark, name, "k") { _ =>
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("planted failure")
      s"built on attempt $attempts"
    }
    intercept[IllegalStateException](lookup())
    val v = lookup()
    assert(v === "built on attempt 2")
    assert(lookup() eq v)
    assert(attempts === 2 && builds(name) === 1,
      "only the successful build is recorded")
  }

  test("two names with an equal key do not collide") {
    val key = s"shared-key-$runTag"
    assert(Materialize.memo(spark, s"memo-spec-a-$runTag", key)(_ => "a") === "a")
    assert(Materialize.memo(spark, s"memo-spec-b-$runTag", key)(_ => "b") === "b")
    assert(Materialize.memo(spark, s"memo-spec-a-$runTag", key)(_ => "x") === "a")
  }

  test("entries of a stopped session are purged on the next lookup") {
    // the suites share one live SparkContext, so the stop runs in a
    // child JVM (MemoPurgeCheck below)
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.ops.llm.MemoPurgeCheck")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() === 0, out)
    assert(out.linesIterator.contains(
      "entries before stop 1, after next lookup 1, builds 2, same false"), out)
  }

  test("no session-keyed map, MaxGauge or registerSessionCache outside " +
       "the memo layer") {
    val sessionMap = ("ConcurrentHashMap" + """\[\s*\(\s*SparkSession""").r
    val retired = Seq("Max" + "Gauge", "registerSession" + "Cache")
    val files = Files.walk(Paths.get("src/main/scala"))
    val offenders = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val src = Files.readString(p)
        (p.startsWith(Paths.get("src/main/scala/graft/ops")) &&
          sessionMap.findFirstIn(src).isDefined) ||
          retired.exists(src.contains)
      }.map(_.toString).toList
    finally files.close()
    assert(offenders.isEmpty,
      "session-lived intermediates go through Materialize.memo")
  }
}

/** Child-JVM half of the stopped-session case: memoize on a session,
  * stop it, look the same (name, key) up on a fresh session.
  */
object MemoPurgeCheck {
  def main(args: Array[String]): Unit = {
    val name = "memo-purge-check"
    val first = graft.Session.local(1)
    first.sparkContext.setLogLevel("ERROR")
    val a = Materialize.memo(first, name, "k")(_ => new Object)
    val before = Materialize.memoEntries
    first.stop()
    val second = graft.Session.local(1)
    val b = Materialize.memo(second, name, "k")(_ => new Object)
    println(s"entries before stop $before, after next lookup " +
      s"${Materialize.memoEntries}, builds ${Materialize.coldBuilds(name).count}, " +
      s"same ${a eq b}")
    second.stop()
  }
}
