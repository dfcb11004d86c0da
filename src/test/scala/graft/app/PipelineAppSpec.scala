package graft.app

import graft.SparkSuite
import graft.io.Snapshots
import java.nio.file.{Files, Paths}

/** North-rule resumability: a run killed mid-pipeline restarts from the
  * last complete snapshot, never from raw input. Simulated by completing a
  * run, erasing the manifests of the tail stages (the "crash"), poisoning
  * the RAW input snapshot's data, and restarting: the tail must rebuild
  * from the still-complete middle stages — if it re-read the (poisoned)
  * input, the output would change. */
class PipelineAppSpec extends SparkSuite {
  import spark.implicits._

  test("restart after mid-pipeline crash resumes from last complete stage") {
    val root = Files.createTempDirectory("graft-resume").toString
    spark.sparkContext.setCheckpointDir(s"$root/_ckpt")

    val run1 = PipelineApp.run(spark, root, nEntities = 60, seed = 11L, None)
    val clusters1 = run1.select("url", "component")
      .as[(String, Long)].collect().toMap
    assert(Snapshots.listSnapshots(root).toSet ===
      Set("pages", "extracted", "blocked", "scored", "cap_drops",
        "clusters", "metrics"))

    val resumedStages = Seq("pages", "extracted", "blocked", "scored",
      "cap_drops")
    val lineage1 = resumedStages.map(Snapshots.lineage(root, _))
    resumedStages.zip(lineage1).foreach { case (s, lin) =>
      assert(lin.map(_._2).sum.toString ===
        Snapshots.manifestField(root, s, "rows").get, s)
    }

    // crash: the two tail stages never committed
    Files.delete(Paths.get(root, "_snapshots", "clusters.json"))
    Files.delete(Paths.get(root, "_snapshots", "metrics.json"))
    // poison the raw input DATA (manifest intact): a correct resume never
    // reads it, because every stage derived from it is still complete
    Seq(("https://poison/x", "COL title VAL poison COL brand VAL poison"))
      .toDF("url", "text")
      .write.mode("overwrite").parquet(s"$root/pages")

    val run2 = PipelineApp.run(spark, root, nEntities = 60, seed = 11L, None)
    val clusters2 = run2.select("url", "component")
      .as[(String, Long)].collect().toMap
    assert(clusters2 === clusters1)
    assert(!clusters2.keySet.contains("https://poison/x"))
    // lineage is sealed once, at commit: resuming never appends to it
    assert(resumedStages.map(Snapshots.lineage(root, _)) === lineage1)
  }
}
