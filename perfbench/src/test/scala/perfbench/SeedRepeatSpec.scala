package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The exact counts of a traced load_narrow run repeat for one seed and
  * move with the seed, so the seed reaches the generators and nothing
  * else feeds them. */
class SeedRepeatSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val work = new File("target/seed-repeat-spec").getAbsoluteFile

  override def beforeAll(): Unit = {
    Workloads.rmTree(work)
    spark = graft.Sessions.withEngineDefaults(SparkSession.builder()
        .master("local[2]").appName("perfbench-spec"))
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.rmTree(work)
  }

  private val tiny = Sizes(narrowRows = 20000L, reducers = 8,
    genReps = 1, minJobs = 2, scansPerJob = 10, warmScans = 1)

  private def counts(seed: Long): Map[String, Double] = {
    val dir = new File(work, s"run-$seed-${System.nanoTime()}")
    dir.mkdirs()
    val ctx = Ctx(spark, dir, seed, seconds = 0.0, sizes = tiny)
    val o = Workloads.loadNarrow(ctx, 0.0, Some(new Tracer(spark.sparkContext, s"spec-$seed")))
    assert(o.failed == 0 && o.checks.forall(_.ok), o.checks.filterNot(_.ok))
    Map("stored_bytes_per_row" -> o.e2e("stored_bytes_per_row"),
      "plan.sessions" -> o.layer("plan.sessions"),
      "bulk.run_mb" -> o.layer("bulk.run_mb"),
      "shuffle.records" -> o.layer("shuffle.records"))
  }

  test("one seed repeats the exact counts; another seed changes them") {
    val a = counts(5L)
    val b = counts(5L)
    val c = counts(6L)
    assert(a == b)
    assert(a("shuffle.records") == 20000.0)
    // row count and ring are fixed, so sessions and records stay; the
    // generated rows themselves differ, so the stored bytes move
    assert(a("stored_bytes_per_row") != c("stored_bytes_per_row"))
    assert(a("bulk.run_mb") != c("bulk.run_mb"))
  }
}
