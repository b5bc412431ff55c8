package kgbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kg.{Inference, PostProcess}

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val tmp: Path = Files.createTempDirectory("kgbench-spec")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", tmp.resolve("spark").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(tmp)
  }

  test("median") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the same seed gives byte-identical input files") {
    def write(seed: Long, name: String): Array[Byte] = Files.readAllBytes(
      Inputs.writeOne(spark, Inputs.toDf(spark, DupLink.pages(seed), withFixtures = true),
        tmp.resolve(s"$name.parquet")))
    val a = write(7, "a")
    assert(java.util.Arrays.equals(a, write(7, "b")))
    assert(!java.util.Arrays.equals(a, write(8, "c")))
  }

  test("the same seed gives identical stream segments and gate tables") {
    val segs = Inputs.streamSegments(5, 3, 8)
    assert(segs == Inputs.streamSegments(5, 3, 8) && segs != Inputs.streamSegments(6, 3, 8))
    assert(segs.map(_.size) == Seq(8, 8, 8) && segs.flatten.map(_.url).distinct.size == 24)
    assert(segs.flatten.count(_.text.contains(FakeEndpoint.StuckMarker)) == 1)
    def write(seed: Long, name: String): Seq[Array[Byte]] =
      Inputs.gateTables(spark, seed, 50, 0.1).toSeq.sortBy(_._1).map { case (t, df) =>
        Files.readAllBytes(Inputs.writeOne(spark, df, tmp.resolve(s"$name/$t.parquet")))
      }
    val a = write(7, "ga")
    assert(a.zip(write(7, "gb")).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!java.util.Arrays.equals(a.head, write(8, "gc").head))
  }

  test("a corrupted expectation fails the check") {
    val df = spark.range(5).toDF("id")
    val digest = Checks.digest(df)
    Checks.pinned(Map("digest" -> digest), "digest", digest)
    assertThrows[Checks.Mismatch] {
      Checks.pinned(Map("digest" -> (digest + "0")), "digest", digest)
    }
    assert(Checks.digest(df.orderBy(org.apache.spark.sql.functions.desc("id"))) == digest)
    assert(Checks.digest(spark.range(6).toDF("id")) != digest)
  }

  test("the Sauk golden check rejects a page missing its triples") {
    import spark.implicits._
    val golden = graft.kg.Fixtures.SaukGoldenTriples
    val rows = (golden.toSeq.map { case (s, p, o) => (Checks.SaukUrl, s, p, o) } :+
      (("https://other.graft/", "a", "b", "c"))).toDF("url", "subj_name", "predicate", "obj_name")
    val got = Checks.saukTriples(rows.agg(Checks.saukCol).collect().head, 0)
    assert(got == golden)
    Checks.saukGolden(got)
    assertThrows[Checks.Mismatch](Checks.saukGolden(got.take(5)))
  }

  test("the fake endpoint heals a transient fault on retry and is deterministic") {
    val e = FakeEndpoint("spec", seed = 3, transientRate = 1.0)
    val client = new Inference.TransportClient("m", e, maxRetries = 3)
    val prompt = "[INST] You are a geology expert. Only use stratigraphic names " +
      "from this list: Shakopee, St. Peter. [/INST]\nThe Shakopee overlies the St. Peter in Wisconsin."
    val out = client.infer(Seq(Inference.Request("u", "h", "t", "en", prompt)))
    val st = FakeEndpoint.state("spec")
    assert(st.calls.get == 2 && st.faults.get == 1 && st.retries.get == 1)
    val parsed = PostProcess.parsePage(out.head)
    assert(parsed.parse_status == PostProcess.StatusOk)
    assert(parsed.triplets.size == 2 && parsed.triplets.forall(_.location == "Wisconsin"))
    assert(FakeEndpoint.answer(3, prompt) == FakeEndpoint.answer(3, prompt))
  }

  test("a stuck page exhausts the client's retries and heals on a later call") {
    val e = FakeEndpoint("stuck", seed = 3, transientRate = 0.0, stuckAttempts = 3)
    val client = new Inference.TransportClient("m", e, maxRetries = 3)
    def req(text: String) = Inference.Request("u", "h", text, "en",
      "[INST] Only use stratigraphic names from this list: Shakopee. [/INST]\n" + text)
    val stuck = req("The Shakopee in Wisconsin. " + FakeEndpoint.StuckMarker)
    assert(client.infer(Seq(stuck, req("The Shakopee in Minnesota."))) == Seq("", ""))
    assert(FakeEndpoint.state("stuck").faults.get == 3)
    val healed = client.infer(Seq(stuck))
    assert(PostProcess.parsePage(healed.head).parse_status == PostProcess.StatusOk)
  }
}
