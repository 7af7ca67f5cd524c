package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll

/** The scale probe's body on sf0.001, against a factor-2 replica and the
  * skewed corpus: each row prints one line in `tools/check_probe.py`'s
  * shape and leaves nothing persisted, a failing label does not end the
  * run, and the run's temp root is gone when it ends.
  */
class ScaleProbeSpec extends SparkSpec with BeforeAndAfterAll {

  // tools/check_probe.py's LINE, with the larger input's name open
  private val Line = ("""\[scale-probe\]\s+(.+?)\s+sf0\.1=\s*([0-9.]+)s\s+""" +
    """(10x|skew)=\s*([0-9.]+)s\s+ratio=\s*([0-9.]+)(.*)""").r
  private val Heavy = """heavy_ms=(\d+)/(\d+)->(\d+)/(\d+)""".r.unanchored

  private lazy val work = Files.createTempDirectory("scale_probe_spec").toFile
  private lazy val replica = {
    val d = new File(work, "x2").getPath
    ScaleProbe.replicate(spark, Sf0001, d, 2)
    d
  }
  private lazy val skewed = {
    val d = new File(work, "skew").getPath
    ScaleProbe.skewCorpus(spark, Sf0001, d)
    d
  }

  override def afterAll(): Unit = {
    FileUtils.deleteDirectory(work)
    super.afterAll()
  }

  private def probeRoots(): Set[String] =
    new File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith("graft_probe")).toSet

  /** The lines `probe` prints for `filters`, checking that it left no
    * RDD persisted and no temp root behind.
    */
  private def probe(variant: String, big: String, filters: String*): Seq[String] = {
    val roots = probeRoots()
    val out = new ByteArrayOutputStream
    leavesNothingPersisted {
      Console.withOut(out)(ScaleProbe.probe(spark, variant, Sf0001, big, filters))
    }
    assert(probeRoots() == roots, "the run's temp root must be deleted")
    out.toString.linesIterator.filter(_.startsWith("[scale-probe]")).toSeq
  }

  test("replicate: fact tables grow by the factor, dimensions do not") {
    def rows(dir: String, t: String) = Tables.load(spark, dir, t).count()
    assert(rows(replica, "lineitem") == 2 * rows(Sf0001, "lineitem"))
    assert(rows(replica, "documents") == 2 * rows(Sf0001, "documents"))
    assert(rows(replica, "nation") == rows(Sf0001, "nation"))
    assert(Tables.load(spark, replica, "documents").select("doc_id").distinct().count() ==
      rows(replica, "documents"), "replica keys must not collide")
  }

  test("a query row prints one gate line") {
    val Seq(Line(label, _, big, _, _, rest)) = probe("10", replica, "q01_pricing_summary")
    assert(label == "q01_pricing_summary" && big == "10x")
    assert(rest.contains(" stages=") && rest.contains(" shuffle_bytes="), rest)
  }

  test("a builder row prints one gate line and its tables go with the temp root") {
    val Seq(Line(label, _, big, _, _, _)) = probe("10", replica, "snap clustered write")
    assert(label == "snap clustered write" && big == "10x")
  }

  test("a skew row carries output rows and the heavy stage's task max/median") {
    val Seq(Line(label, _, big, _, _, rest)) = probe("skew", skewed, "q95 jaccard maxDf")
    assert(label == "q95 jaccard maxDf" && big == "skew")
    assert(rest.matches("""\s+rows=\d+->\d+ .*"""), rest)
    val Heavy(_, _, max, median) = rest
    assert(max.toLong >= median.toLong && max.toLong > 0, rest)
  }

  test("a label that throws prints FAILED and the run goes on") {
    val missing = new File(work, "missing").getPath
    val lines = probe("10", missing, "q01_pricing_summary", "q06_user_daily")
    assert(lines.size == 2, lines)
    assert(lines.head.startsWith("[scale-probe] q01_pricing_summary FAILED: "), lines)
    assert(lines(1).startsWith("[scale-probe] q06_user_daily FAILED: "), lines)
  }
}
