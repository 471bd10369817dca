package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The run recorder attributes by job group, not by timing: concurrent
  * `Par` branches land in their run, jobs between runs land in none, and
  * the noop methodology leaves no pin behind. Also guards that every
  * entrypoint keeps going through the one session factory. */
class HarnessSpec extends SparkSpec {
  private lazy val recorder = new Recorder(spark)
  private def branchA() = spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
  private def branchB() =
    spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
  private def tasks(r: RunRecord) = r.stages.map(_.tasks).sum
  private def counts(r: RunRecord) = (r.jobs.size, r.stages.size, tasks(r))

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(recorder)
    super.afterAll()
  }

  test("Par.par2 branches inside one run are attributed to that run") {
    recorder.run("warmup") { branchA(); branchB() }
    val a = recorder.run("a")(branchA())
    val b = recorder.run("b")(branchB())
    val both = recorder.run("par2")(Par.par2(branchA())(branchB()))
    assert(a.jobs.nonEmpty && b.jobs.nonEmpty && a.failure.isEmpty)
    assert(counts(both) == ((a.jobs.size + b.jobs.size, a.stages.size + b.stages.size,
      tasks(a) + tasks(b))))
    assert(both.taskSec >= 0 && both.jobWallS <= both.wallS + 1.0)
  }

  test("a job run between two runs lands in neither record") {
    val alone = recorder.run("alone")(branchA())
    val first = recorder.run("first")(branchA())
    spark.sparkContext.parallelize(1 to 10, 3).count()
    val second = recorder.run("second")(branchA())
    assert(counts(first) == counts(alone))
    assert(counts(second) == counts(alone))
  }

  test("noop run drops the localCheckpoint pins its query made") {
    var pinned = 0
    val r = recorder.noop("pinned") {
      val df = spark.range(0, 1000, 1, 4).toDF("id").localCheckpoint()
      pinned = spark.sparkContext.getPersistentRDDs.size
      df.selectExpr("sum(id)")
    }
    assert(r.failure.isEmpty && r.jobs.nonEmpty)
    assert(pinned > 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a failing body is recorded, not thrown") {
    val r = recorder.run("fails")(spark.sql("SELECT * FROM no_such_table").collect())
    assert(r.failure.exists(_.getMessage.contains("no_such_table")))
  }

  test("src/main has one session builder, one SparkListener and no sleeps") {
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toSeq
    def count(pattern: String) = sources.map(pattern.r.findAllMatchIn(_).size).sum
    assert(sources.size > 50)
    assert(count("""SparkSession\.builder""") == 1)
    assert(count("""\bThread\.sleep\b""") == 0)
    assert(count("""(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""") == 1)
  }
}
