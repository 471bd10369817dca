package perfbench

import java.nio.file.Paths

/** The benchmark's own test of per-op attribution: the two branches of a
  * `Par.par2` inside one op must both land in that op's record, and a job
  * run outside the op must not. `perfbench.SelfTest <work dir>`; exits 1
  * on failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(Paths.get(args(0)).toAbsolutePath)
    val sc = spark.sparkContext
    val l = new OpListener(sc)
    sc.addSparkListener(l); spark.listenerManager.register(l)
    def branchA() = spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
    def branchB() = spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    def op(name: String)(body: => Unit): GroupStats = {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      l.currentOp = name
      try body finally sc.clearJobGroup()
      spark.range(5).count() // a job outside the op
      l.await(name)
      l.group(name)
    }
    op("selftest#warmup#0") { branchA(); branchB() }
    val a = op("selftest#a#0")(branchA())
    val b = op("selftest#b#0")(branchB())
    val both = op("selftest#par2#0")(graft.Par.par2(branchA())(branchB()))
    val planner = l.planner("selftest#par2#0")
    val failures = Seq(
      (both.jobs == a.jobs + b.jobs, s"jobs ${both.jobs} != ${a.jobs} + ${b.jobs}"),
      (both.stages == a.stages + b.stages, s"stages ${both.stages} != ${a.stages} + ${b.stages}"),
      (both.tasks == a.tasks + b.tasks, s"tasks ${both.tasks} != ${a.tasks} + ${b.tasks}"),
      (planner.sum > 0, "no planner phases credited to the op")
    ).collect { case (false, msg) => msg }
    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => println(s"FAIL $f"))
      sys.exit(1)
    }
    println(s"PASS Par.par2 branches attributed to their op (jobs ${both.jobs}, tasks ${both.tasks})")
  }
}
