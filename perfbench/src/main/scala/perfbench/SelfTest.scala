package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-tests of the benchmark harness:
  *
  *   perfbench.SelfTest --work DIR
  *
  *  1. each generator writes byte-identical files for one seed, and
  *     different files for another;
  *  2. the digest check fails an iteration whose written output was
  *     tampered with;
  *  3. an iteration that throws counts in fail_rate and not in the
  *     timings.
  */
object SelfTest {
  private var failures = 0

  private def check(cond: Boolean, what: String): Unit = {
    println(s"${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  /** A repeatable workload writing a small table; `tamper` and `thrower`
    * pick the iteration that writes a changed row or throws. */
  private final class Fake(tamper: Int, thrower: Int) extends Workload {
    val name = "selftest"
    def params: Gen.Params = Gen.Params(Nil)
    def generate(spark: SparkSession, in: String, seed: Long): Long = 0
    val floors = Quality(0, 0)
    def quality(ctx: Ctx, out: String): Quality = Quality(1, 1)
    override def maxIterations(ctx: Ctx): Int = 6
    def iterate(ctx: Ctx, i: Int, out: String): String = {
      if (i == thrower) { Thread.sleep(1500); throw new RuntimeException("planted failure") }
      val df = ctx.spark.range(100).select(col("id"), (col("id") * 7).as("v"))
      val written = if (i == tamper) df.withColumn("v", when(col("id") === 42, -1).otherwise(col("v")))
        else df
      written.write.parquet(s"$out/t.parquet")
      Out.digest(Out.read(ctx.spark, s"$out/t.parquet"))
    }
  }

  def main(argv: Array[String]): Unit = {
    val work = argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(sys.error("missing --work"))
    val spark = Main.session(work)
    def gen(w: Workload, seed: Long, tag: String): String = {
      val dir = new File(s"$work/gen-$tag")
      Gen.deleteTree(dir)
      w.generate(spark, dir.getPath, seed)
      try Main.treeHash(dir) finally Gen.deleteTree(dir)
    }
    Workloads.all.foreach { w =>
      val (a, b, c) = (gen(w, 7, "a"), gen(w, 7, "b"), gen(w, 8, "c"))
      check(a == b, s"${w.name}: same seed, byte-identical inputs")
      check(a != c, s"${w.name}: another seed, other inputs")
    }
    val ctx = Ctx(spark, work, work, new Tracer(spark, "selftest"))
    val tampered = Main.loop(new Fake(tamper = 3, thrower = -1), ctx, 60, trace = false)
    check(tampered.failed == 1 && tampered.errors.exists(_.contains("differs")),
      s"tampered output fails the digest check (failed=${tampered.failed})")
    val thrown = Main.loop(new Fake(tamper = -1, thrower = 2), ctx, 60, trace = false)
    check(thrown.failed == 1 && thrown.attempted == 6, s"thrown iteration counted (failed=${thrown.failed} of ${thrown.attempted})")
    check(thrown.warm.size == 4 && thrown.warm.forall(_ < 1.5),
      s"thrown iteration left out of the timings (${thrown.warm.size} timed)")
    spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
