package graft.streaming

import java.nio.file.Files

import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The replay harness's session overrides: applied for the run only,
  * restored on every exit path, and its checkpoint directory removed. */
class ReplaySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val keys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.checkpointFileManagerClass")

  private def confs: Seq[Option[String]] = keys.map(spark.conf.getOption)

  test("replay overrides hold during the run and are restored after, " +
      "also when the build throws") {
    import spark.implicits._
    val before = confs
    var during = Seq.empty[Option[String]]
    val out = Replay.run(spark, Seq(Seq(1, 2), Seq(3)), "append",
        partitions = 2) { ds =>
      during = confs
      ds.toDF("v")
    }
    assert(out.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(during == Seq(Some("2"), Some("false"), Some("org.apache.spark." +
      "sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager")))
    assert(confs == before)
    intercept[IllegalStateException](
      Replay.run(spark, Seq(Seq(1)), "append") { _ =>
        throw new IllegalStateException("build failed")
      })
    assert(confs == before)
  }

  test("a replay's checkpoint directory under the configured root is " +
      "removed after the run") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_replay_root")
    spark.conf.set(Replay.CheckpointDirConf, root.toString)
    try {
      Replay.run(spark, Seq(Seq(1), Seq(2)), "append")(_.toDF("v"))
      assert(Using.resource(Files.list(root))(_.count()) == 0L)
    } finally {
      spark.conf.unset(Replay.CheckpointDirConf)
      Files.deleteIfExists(root)
    }
  }
}
