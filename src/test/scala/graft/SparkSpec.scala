package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy, reused), built
  * through the library's own entry point so every suite also exercises
  * [[Graft.session]]'s wiring.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    Graft.session(master = Some("local[4]"), shufflePartitions = 4,
      extraConf = Map("spark.ui.enabled" -> "false"))

  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under java.io.tmpdir whose name starts with
    * `prefix`, deleted with everything in it when the suite ends.
    */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => Artifacts.deleteRecursively(d))
    finally super.afterAll()
}
