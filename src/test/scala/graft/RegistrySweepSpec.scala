package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.geo.proj.RegistrySweep

/** The registry-wide Catalyst-path sweep: every pj_list.h operation runs
  * through PointTransformExpr (kernel serialization + whole-stage
  * codegen) and must reproduce, bit-for-bit, the checksum computed by a
  * direct JVM call into the same kernel.  This is the layer the gie
  * fixture suite (JVM-direct kernel calls) does not exercise. */
class RegistrySweepSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("registry-sweep-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("sample list covers the reference registry exactly (pj_list.h)") {
    val src = new String(java.nio.file.Files.readAllBytes(
      ReferenceTree.file("src/pj_list.h")), "UTF-8")
    val refNames = "PROJ_HEAD\\(([a-z0-9_]+)".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    val ours = RegistrySweep.samples.map(_.op)
    assert(ours.distinct.size == ours.size, "duplicate sample op names")
    assert(ours.toSet == refNames,
      s"missing: ${(refNames -- ours).toList.sorted}; " +
        s"extra: ${(ours.toSet -- refNames).toList.sorted}")
  }

  test("every registry op matches JVM-direct evaluation through the DataFrame path") {
    val rows = RegistrySweep.sweep(spark).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.size == RegistrySweep.samples.size)
    val mismatches = RegistrySweep.samples.flatMap { s =>
      val exp = RegistrySweep.expected(s)
      if (rows(s.op) != exp) Some(s"${s.op}: spark=${rows(s.op)} jvm=$exp")
      else None
    }
    assert(mismatches.isEmpty, mismatches.mkString("; "))
    // the sweep must be substantive: nearly all ops produce real output
    val dead = RegistrySweep.samples.map(_.op).filter(op => rows(op)._1 == 0L)
    info(s"ops with zero accepted probe points: ${dead.sorted.mkString(", ")}")
    assert(dead.size <= 8, s"too many ops swept vacuously: $dead")
  }
}
