package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per suite, configured
  * exactly like Verify/Bench ([[GraftSession]]).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
  val sf01: String = "/root/testdata/sf0.01"

  /** An sf directory holding `sf`'s events rewritten as 8 files: the
    * same rows with more input splits than cores, as any multi-file
    * table on a real deployment has.
    */
  lazy val sfMultiFile: String = {
    val dir = java.nio.file.Files.createTempDirectory("evmulti").toString
    Tables.events(spark, sf).repartition(8)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  override def afterAll(): Unit = {
    // keep the session for the next suite (getOrCreate shares it)
    super.afterAll()
  }
}
