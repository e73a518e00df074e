package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The replays' checkpoint manager on a local directory: atomic
  * create-and-rename, the no-overwrite rejection, cancel and mkdirs
  * leave exactly the files Spark's managers would, and no temp file. */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def withDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft_nio_ckpt")
    try body(dir)
    finally Using.resource(Files.walk(dir))(_.iterator().asScala.toVector)
      .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
  }

  private def names(dir: JPath): Seq[String] =
    Using.resource(Files.walk(dir))(_.iterator().asScala.toVector)
      .filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString).sorted

  test("local checkpoint files are created atomically, without checksum " +
      "or temp files") {
    withDir { dir =>
      val fm = new NioCheckpointFileManager(new Path(dir.toUri),
        new Configuration())
      def write(rel: String, text: String, overwrite: Boolean): Unit = {
        val out = fm.createAtomic(new Path(dir.resolve(rel).toUri), overwrite)
        out.write(text.getBytes(UTF_8))
        out.close()
      }
      write("offsets/0", "a", overwrite = false)
      write("state/0/1.delta", "b", overwrite = true)
      write("state/0/1.delta", "c", overwrite = true)
      assert(names(dir) == Seq("offsets/0", "state/0/1.delta"))
      assert(new String(Files.readAllBytes(dir.resolve("state/0/1.delta")),
        UTF_8) == "c")
      // a second writer of a log entry loses, the first entry stays
      intercept[FileAlreadyExistsException](
        write("offsets/0", "z", overwrite = false))
      assert(new String(Files.readAllBytes(dir.resolve("offsets/0")),
        UTF_8) == "a")
      val cancelled = fm.createAtomic(new Path(dir.resolve("commits/0").toUri),
        overwriteIfPossible = false)
      cancelled.write(1)
      cancelled.cancel()
      fm.mkdirs(new Path(dir.resolve("sources/0/x").toUri))
      assert(Files.isDirectory(dir.resolve("sources/0/x")))
      assert(names(dir) == Seq("offsets/0", "state/0/1.delta"))
      assert(fm.exists(new Path(dir.resolve("offsets/0").toUri)))
      assert(Using.resource(fm.open(new Path(dir.resolve("offsets/0").toUri)))(
        _.read()) == 'a'.toInt)
    }
  }
}
