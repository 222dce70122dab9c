package graft.tools

import org.apache.spark.sql.functions._

/** Phase-level wall-clock attribution for the q179/q183 release capstones
  * (the BENCH_NOTES probe discipline). Replays each stage one at a time.
  * Usage: runMain graft.tools.ReleaseProbe [sfDir] */
object ReleaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-relprobe",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import graft.operators.{Dedup, TextAnalysis}
    import graft.functions.{TextFunctions => TF}
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[relprobe] $label%-34s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    timed("warm corpus")(graft.Tables.documents(spark, dir).count())
    timed("shingle leaf")(Dedup.ensureDocShingles(spark, dir).count())
    timed("jacpairs leaf")(Dedup.ensureJaccardPairs(spark, dir).count())
    for (round <- 1 to 2) {
      def lbl(s: String) = s"r$round $s"
      // --- q179 stages ---
      val spill = graft.sources.Sources.spillScratch _
      val pass = TextAnalysis.cascadePreds.map(_._2).reduce(_ && _)
      val gated = timed(lbl("q179 gates+spill")) {
        spill(TextAnalysis.cascadeBase(spark, dir).filter(pass)
          .select(col("doc_id"), col("lang"), col("text")), "rp_gated")
      }
      val deduped = timed(lbl("q179 exact dedup+spill")) {
        val exactKeep = gated
          .groupBy(TF.contentHash(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
        spill(gated.join(exactKeep, Seq("doc_id"), "left_semi"), "rp_dedup")
      }
      val pairsLeaf = timed(lbl("q179 pairs from leaf+spill")) {
        val ids = deduped.select(col("doc_id"))
        spill(Dedup.ensureJaccardPairs(spark, dir)
          .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
          .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
          .select(col("doc_a"), col("doc_b")), "rp_pairs")
      }
      timed(lbl("q179 pairs via LSH (old way)")) {
        Dedup.minhashLshPairsFor(deduped)
          .select(col("doc_a"), col("doc_b")).write.format("noop")
          .mode("overwrite").save()
      }
      val keepers = timed(lbl("q179 connected components")) {
        Dedup.connectedComponents(
          deduped.select(col("doc_id").as("id")),
          pairsLeaf.select(col("doc_a").as("src"), col("doc_b").as("dst")))
          .filter(col("lbl") === col("id")).select(col("id").as("doc_id"))
          .localCheckpoint(true)
      }
      timed(lbl("q179 full manifest")) {
        graft.pipeline.CorpusRelease.corpusRelease(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      keepers.unpersist()
      // --- q183 whole ---
      timed(lbl("q183 whole")) {
        graft.streaming.ReleaseStream.releaseTicks(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      // --- q183 tick anatomy: one tick's phases, mirroring releaseTickXO
      locally {
        import graft.operators.IncrementalDedup
        val docs = graft.Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("text")).persist()
        docs.count()
        val isEval = graft.operators.Dedup.evalSplit(col("doc_id"))
        val root = graft.sources.Sources.scratchDirUnique(spark, "rp183")
        timed(lbl("q183 eval index build")) {
          graft.streaming.ReleaseStream.buildEvalIndex(docs.filter(isEval), root)
        }
        val arriving = docs.filter(!isEval)
        val maxId = arriving.agg(max(col("doc_id"))).head().getLong(0)
        val batch = arriving.filter(col("doc_id") <= maxId / 3)
        val pass = TextAnalysis.cascadePreds.map(_._2).reduce(_ && _)
        val gated = timed(lbl("q183 tick gates+ckpt")) {
          batch.select(col("doc_id"), col("lang"), col("text"),
              TF.shingles(col("text"), 3).as("sh"))
            .filter(pass)
            .select(col("doc_id"), col("lang"), col("text"),
              TF.contentHash(col("text")).as("h"))
            .localCheckpoint(true)
        }
        val exactNew = timed(lbl("q183 tick exact+ckpt")) {
          gated.join(
            gated.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
              .select(col("doc_id")), Seq("doc_id"), "left_semi")
            .localCheckpoint(true)
        }
        timed(lbl("q183 tick hash write")) {
          exactNew.select(col("h")).withColumn("ingest_batch", lit(0L))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch").parquet(s"$root/hashes")
        }
        val candSh = timed(lbl("q183 tick candSh ckpt")) {
          Dedup.docShingles(exactNew).localCheckpoint(true)
        }
        val evalSh = spark.read.parquet(s"$root/eval_shingles")
          .select(col("doc_id"), col("shingle"))
        val clean = timed(lbl("q183 tick decon")) {
          val fuzzyContam = IncrementalDedup
            .pairsAgainstIndex(candSh, evalSh, 0.5)
            .select(col("doc_a").as("doc_id"))
          val exactContam = exactNew
            .join(broadcast(spark.read.parquet(s"$root/eval_hashes")),
              Seq("h"), "left_semi")
            .select(col("doc_id"))
          exactNew.join(fuzzyContam.unionByName(exactContam).distinct(),
            Seq("doc_id"), "left_anti").localCheckpoint(true)
        }
        val admitted = timed(lbl("q183 tick neardup(empty idx)")) {
          val cleanSh = candSh.join(clean.select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          val rejected = IncrementalDedup.pairsAgainstIndex(
            cleanSh, candSh.limit(0), 0.5)
            .select(col("doc_a").as("doc_id")).distinct()
          clean.join(rejected, Seq("doc_id"), "left_anti").localCheckpoint(true)
        }
        timed(lbl("q183 tick index append")) {
          candSh.join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .withColumn("ingest_batch", lit(0L))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch").parquet(s"$root/shingle_index")
        }
        timed(lbl("q183 tick export")) {
          graft.streaming.ShardExportStream.exportTickXO(
            admitted.select(col("doc_id"), col("lang"), col("text")),
            0L, s"$root/shards", s"$root/totals", 16384L)
        }
        docs.unpersist()
      }
    }
    spark.stop()
  }
}
