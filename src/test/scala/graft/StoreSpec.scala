package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.Store

/** The store's log read (`Store.eav`, fixed schema). */
class StoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("eav reads a log written without an op column as all asserts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("oplesslog").toString
    Seq(("artist/gid|1", "artist/name", "One", Option.empty[Long], false, 1L),
      ("artist/gid|2", "artist/name", "Two", None, false, 1L),
      ("release/gid|1", "release/year", "1999", Some(1999L), false, 2L),
      ("release/gid|1", "release/artists", "artist/gid|1", None, true, 2L))
      .toDF("e", "a", "v", "v_long", "is_ref", "tx")
      .write.partitionBy("a").parquet(s"$dir/eav")
    val store = new Store(spark, dir)
    val eav = store.eav
    assert(eav.columns.toSet == Store.schema.fieldNames.toSet)
    assert(eav.count() == 4)
    assert(eav.filter(col("op")).count() == 4)
    assert(eav.filter(col("a") === "release/year").select("v_long").as[Long].collect().toSeq == Seq(1999L))
    // a later file with op keeps its retraction beside the op-less files
    store.append(Seq(("artist/gid|2", "artist/name", "Two", Option.empty[Long], false, 3L))
      .toDF("e", "a", "v", "v_long", "is_ref", "tx").withColumn("op", lit(false)))
    val after = store.eav
    assert(after.filter(!col("op")).select("e", "tx").as[(String, Long)].collect().toSeq ==
      Seq(("artist/gid|2", 3L)))
    assert(after.filter(col("op")).count() == 4)
  }
}
