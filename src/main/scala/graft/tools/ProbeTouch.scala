package graft.tools

import graft.core.{Sessions, Tables}
import graft.llm.{Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** Dev probe: cost decomposition of ONE [[Dedup.hammingProbeTouch]]
  * membership probe at the 5M-doc decade — the media leg of the q103
  * arrival (ProbeQ103Svc measured the composed arrival at 54.7 s vs
  * q98's text-only 16.3 s; this isolates where the media delta goes:
  * the 36-combo map-side key expansion of the 5M-row store vs the
  * batch-sized joins). */
object ProbeTouch {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/testdata-sf10")
    val mod = sys.env.getOrElse("SPARK_GRAFT_BATCH_MOD", "1000").toLong
    val s = Sessions.build("probe-touch")
    def t(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"STAGE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    val d = Tables.documents(s, dir)
    val isBatch = pmod(xxhash64(col("doc_id")), lit(mod)) === 7
    val root = java.nio.file.Files.createTempDirectory("graft_touch")
    try {
      val mkFp = (df: org.apache.spark.sql.DataFrame) =>
        Multimodal.syntheticImageTable(df.select(col("doc_id")), "doc_id")
          .select(col("media_id").as("id"),
            graft.functions.PerceptualHash.d_hash(col("payload")).as("sh"))
          .where(col("sh").isNotNull)
      t("seed store parquet") {
        mkFp(d.where(!isBatch)).write.parquet(s"$root/store")
      }
      mkFp(d.where(isBatch)).write.parquet(s"$root/batch")
      val store = s.read.parquet(s"$root/store")
      val batch = s.read.parquet(s"$root/batch")
      println(s"store=${store.count()} batch=${batch.count()}")
      (1 to 3).foreach { i =>
        t(s"probeTouch $i") {
          graft.core.Caching.scoped {
            println("  touched: " + Dedup.hammingProbeTouch(store, batch).count())
          }
        }
      }
      // floor: the bare store scan + the 36-key expansion alone
      t("bare store scan") { store.write.mode("overwrite").format("noop").save() }
      t("36-combo key expansion only") {
        store.select(col("id"), posexplode(array(
            graft.llm.Dedup.comboKeyExprs(Seq(col("sh")), 9, 2): _*))
            .as(Seq("combo", "key")))
          .write.mode("overwrite").format("noop").save()
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    s.stop()
  }
}
