package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.operators.VectorOps
import graft.sources.IndexStore

class IndexStoreSpec extends SparkSpec {

  private def writeEmbeddings(dir: String, n: Int): Unit = {
    val s = spark; import s.implicits._
    (0 until n).map { i =>
      val v = Array.fill(VectorOps.Dim)(0.0f)
      v(i % VectorOps.Dim) = 1.0f
      (i.toLong, v.toSeq, i % 2)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def nVectors(s: SparkSession, dir: String): Long =
    VectorOps.ivfAutoDial(s, dir).head().getAs[Long]("n_vectors")

  test("store values are per session; release drops values and frames") {
    val dir = Files.createTempDirectory("graft-store").toString
    writeEmbeddings(dir, 6)
    val s1 = spark.newSession()
    assert(nVectors(s1, dir) === 6L)
    val centroids = VectorOps.centroidVectorsAuto(s1, dir)
    assert(IndexStore.keysFor(s1) === Set("ivf_corpus_count", "ivf_auto_centroids"))
    // a new generation of the files: a fresh session must count it, not
    // be served the count another session collected
    writeEmbeddings(dir, 9)
    val s2 = spark.newSession()
    assert(nVectors(s2, dir) === 9L)
    IndexStore.release(s1)
    assert(IndexStore.entriesFor(s1) === 0)
    assert(centroids.storageLevel === StorageLevel.NONE)
    assert(IndexStore.entriesFor(s2) === 1)
    IndexStore.release(s2)
    assert(IndexStore.entriesFor(s2) === 0)
  }
}
