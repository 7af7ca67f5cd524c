package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, ExecutionException, Executors, TimeUnit}
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._

/** Latches a test UDF uses to park an append's write task until the
  * main thread has committed a concurrent DDL (local mode: executor
  * tasks run in this JVM).
  */
object AppendRace {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** CHECK constraints on the snapshot table — the Delta ALTER TABLE
  * ADD CONSTRAINT contract: vet existing data on add, reject
  * violating batches ATOMICALLY on every data-adding commit, SQL NULL
  * semantics (violation only when the expression is FALSE), carry
  * forward through unrelated commits, metadata-only add/drop.
  */
class SnapshotConstraintSpec extends SparkSpec {
  import spark.implicits._

  test("violating append/idempotent-append rejected atomically; " +
      "passing append commits; constraint carries through commits") {
    val t = Files.createTempDirectory("graft_cons").toString + "/t"
    SnapshotTable.append(Seq((1, 10.0), (2, 20.0)).toDF("id", "kwh"), t)
    val vAdd = SnapshotTable.addConstraint(spark, t, "kwh_pos", "kwh > 0")
    assert(SnapshotTable.constraintsOf(t) == Map("kwh_pos" -> "kwh > 0"))

    val before = SnapshotTable.currentVersion(t)
    val e = intercept[IllegalArgumentException](
      SnapshotTable.append(Seq((3, -1.0)).toDF("id", "kwh"), t))
    assert(e.getMessage.contains("kwh_pos") && e.getMessage.contains("1 row"))
    // atomic: no version committed, no rows landed
    assert(SnapshotTable.currentVersion(t) == before)
    assert(SnapshotTable.read(spark, t).count() == 2)

    val eIdem = intercept[IllegalArgumentException](
      SnapshotTable.appendIdempotent(
        Seq((3, -1.0)).toDF("id", "kwh"), t, "writer", 1L))
    assert(eIdem.getMessage.contains("kwh_pos"))

    // a passing append commits, and the constraint SURVIVES it
    SnapshotTable.append(Seq((3, 3.0)).toDF("id", "kwh"), t)
    assert(SnapshotTable.constraintsOf(t) == Map("kwh_pos" -> "kwh > 0"))
    assert(SnapshotTable.currentVersion(t).get > vAdd)
    // ...so the NEXT violating append still fails
    intercept[IllegalArgumentException](
      SnapshotTable.append(Seq((4, 0.0)).toDF("id", "kwh"), t))
  }

  test("add vets existing data; NULL passes (SQL CHECK semantics); " +
      "drop re-opens the gate") {
    val t = Files.createTempDirectory("graft_cons2").toString + "/t"
    SnapshotTable.append(Seq((1, 5.0), (2, -4.0)).toDF("id", "kwh"), t)
    val e = intercept[IllegalArgumentException](
      SnapshotTable.addConstraint(spark, t, "kwh_pos", "kwh > 0"))
    assert(e.getMessage.contains("1 existing row"))
    assert(SnapshotTable.constraintsOf(t).isEmpty)

    SnapshotTable.addConstraint(spark, t, "kwh_floor", "kwh > -10")
    // NULL expression result passes, as in the SQL standard and Delta
    SnapshotTable.append(
      Seq((3, Option.empty[Double])).toDF("id", "kwh"), t)
    assert(SnapshotTable.read(spark, t).count() == 3)
    intercept[IllegalArgumentException](
      SnapshotTable.append(Seq((4, -11.0)).toDF("id", "kwh"), t))

    SnapshotTable.dropConstraint(t, "kwh_floor")
    assert(SnapshotTable.constraintsOf(t).isEmpty)
    SnapshotTable.append(Seq((4, -11.0)).toDF("id", "kwh"), t)
    assert(SnapshotTable.read(spark, t).count() == 4)
    // unknown column / duplicate name fail loudly
    intercept[Exception](
      SnapshotTable.addConstraint(spark, t, "bad", "no_such_col > 0"))
    intercept[IllegalArgumentException](SnapshotTable.dropConstraint(t, "ghost"))
  }

  test("merge enforces on the MERGED output: an update that drives a " +
      "row out of range is rejected before any data lands") {
    val t = Files.createTempDirectory("graft_cons3").toString + "/t"
    SnapshotTable.append(Seq((1, 5.0), (2, 6.0)).toDF("id", "kwh"), t)
    SnapshotTable.addConstraint(spark, t, "kwh_pos", "kwh > 0")
    val before = SnapshotTable.currentVersion(t)
    // the UPDATE expression (kwh - 100) violates even though the
    // incoming source rows alone look harmless
    val e = intercept[IllegalArgumentException](
      SnapshotTable.merge(spark, t,
        Seq((1, 1.0)).toDF("id", "kwh"), "id",
        whenMatchedUpdate = Map("kwh" -> (col("kwh") - lit(100.0)))))
    assert(e.getMessage.contains("kwh_pos"))
    assert(SnapshotTable.currentVersion(t) == before)
    assert(SnapshotTable.read(spark, t).as[(Int, Double)].collect().toMap
      == Map(1 -> 5.0, 2 -> 6.0))
    // a passing merge commits
    SnapshotTable.merge(spark, t, Seq((1, 9.0)).toDF("id", "kwh"), "id",
      whenMatchedUpdate = Map("kwh" -> col("kwh")))
    assert(SnapshotTable.read(spark, t).count() == 2)
  }

  test("overwrite and upsert reject a batch that breaks a CHECK the new " +
      "version carries") {
    val t = Files.createTempDirectory("graft_cons4").toString + "/t"
    SnapshotTable.append(Seq((1, 10.0)).toDF("id", "kwh"), t)
    SnapshotTable.addConstraint(spark, t, "kwh_pos", "kwh > 0")
    val before = SnapshotTable.currentVersion(t)
    val bad = Seq((2, -5.0)).toDF("id", "kwh")
    val eOver = intercept[IllegalArgumentException](
      SnapshotTable.overwrite(bad, t))
    assert(eOver.getMessage.contains("kwh_pos"))
    val eUp = intercept[IllegalArgumentException](
      SnapshotTable.upsert(spark, bad, t, "id"))
    assert(eUp.getMessage.contains("kwh_pos"))
    assert(SnapshotTable.currentVersion(t) == before)
    assert(SnapshotTable.read(spark, t).as[(Int, Double)].collect().toSeq
      == Seq(1 -> 10.0))
    // passing batches still commit, and the constraint carries
    SnapshotTable.upsert(spark, Seq((2, 5.0)).toDF("id", "kwh"), t, "id")
    SnapshotTable.overwrite(Seq((3, 3.0)).toDF("id", "kwh"), t)
    assert(SnapshotTable.read(spark, t).as[(Int, Double)].collect().toSeq
      == Seq(3 -> 3.0))
    assert(SnapshotTable.constraintsOf(t) == Map("kwh_pos" -> "kwh > 0"))
  }

  test("a CHECK committed while an append is in flight aborts the append") {
    val t = Files.createTempDirectory("graft_cons_race").toString + "/t"
    SnapshotTable.append(Seq((1, 10.0)).toDF("id", "kwh"), t)
    AppendRace.entered = new CountDownLatch(1)
    AppendRace.release = new CountDownLatch(1)
    // the batch's kwh comes from a UDF that parks the write until the
    // CHECK has committed: the batch was vetted on v0, which had none
    val park = udf { (x: Double) =>
      AppendRace.entered.countDown()
      AppendRace.release.await(120, TimeUnit.SECONDS)
      x
    }
    val batch = spark.range(1).select(lit(2).as("id"), park(lit(-5.0)).as("kwh"))
    val pool = Executors.newSingleThreadExecutor()
    try {
      val append = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = SnapshotTable.append(batch, t)
      })
      assert(AppendRace.entered.await(120, TimeUnit.SECONDS), "the write never started")
      assert(SnapshotTable.addConstraint(spark, t, "kwh_pos", "kwh > 0") == 1)
      AppendRace.release.countDown()
      val e = intercept[ExecutionException](append.get(120, TimeUnit.SECONDS))
      assert(e.getCause.isInstanceOf[java.util.ConcurrentModificationException],
        s"expected a metadata-conflict abort, got ${e.getCause}")
      // the unvetted row never landed
      assert(SnapshotTable.currentVersion(t).contains(1))
      assert(SnapshotTable.read(spark, t).as[(Int, Double)].collect().toSeq
        == Seq((1, 10.0)))
    } finally {
      AppendRace.release.countDown()
      pool.shutdownNow()
    }
  }
}
