// ScaleProbe lives in the default package (a scratch main), and named
// packages cannot reference the default package — so this spec sits
// beside it in the default package too.
import org.scalatest.funsuite.AnyFunSuite

/** The probe's arg gate: a typo'd section name must fail with the valid
  * list, not exit cleanly having run nothing (which reads as a
  * successful probe). Validation happens before any SparkSession is
  * built, so this is cheap to assert. Also the replica helper every
  * section scales its corpus with: replicas never collide.
  */
class ScaleProbeSpec extends AnyFunSuite {
  test("a misspelled section name fails fast with the valid list") {
    val e = intercept[IllegalArgumentException] { ScaleProbe.main(Array("recal")) }
    assert(e.getMessage.contains("recal") && e.getMessage.contains("recall"),
      e.getMessage)
  }

  test("replicate shifts ids by max + 1, keeps the id type and tags replicas") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val longs = Seq((0L, "a"), (9L, "b")).toDF("id", "v")
    val r = ScaleProbe.replicate(longs, "id", 3, replicaCol = Some("r"))
    assert(r.select("id").as[Long].collect().sorted.toSeq ===
      Seq(0L, 9L, 10L, 19L, 20L, 29L))
    assert(r.filter($"r" === 2).select("id").as[Long].collect().sorted.toSeq ===
      Seq(20L, 29L))
    val strings = Seq("3", "12").toDF("id")
    val s = ScaleProbe.replicate(strings, "id", 2)
    assert(s.schema("id").dataType === org.apache.spark.sql.types.StringType)
    assert(s.as[String].collect().toSet === Set("3", "12", "16", "25"))
  }

  test("sectionNames covers every dispatch site") {
    // the source-level guard inside section(...) keeps the list in sync;
    // here we pin the externally documented names
    assert(ScaleProbe.sectionNames.toSet ===
      Set("dedup", "clusters", "lsh", "emblsh", "stream", "recall", "etl",
        "skew", "tenant", "layout", "sketch", "spans", "planner", "geo",
        "drift", "cdc", "sparse", "rest", "semantic", "classify", "curation",
        "ordering", "storeivf", "pqlog", "fresh", "wire", "storetext",
        "sharded", "recallc", "recallc2", "storehnsw", "topology",
        "maintain", "quanthnsw", "snaprestore", "quantmulti", "probe"))
  }
}
