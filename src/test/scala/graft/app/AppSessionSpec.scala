package graft.app

import graft.SparkSuite
import java.nio.file.Files

class AppSessionSpec extends SparkSuite {

  test("deleteCheckpointDir leaves the checkpoint root empty after a " +
      "reliable checkpoint") {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val root = Files.createTempDirectory("graft-app-ckpt")
    def files(): Long = Files.walk(root).filter(Files.isRegularFile(_)).count()
    sc.setCheckpointDir(root.toString)
    try {
      assert(spark.range(100).toDF("id").checkpoint().count() === 100L)
      assert(files() > 0, "checkpoint() wrote no files")
      AppSession.deleteCheckpointDir(spark)
      assert(Files.isDirectory(root), "the shared parent must survive")
      assert(Files.list(root).count() === 0L)
    } finally prev.foreach(sc.setCheckpointDir)
  }
}
