package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.GraftConfig
import graft.operators.{Corpus, Dedup, Similarity}
import graft.sources.Tables
import graft.streaming.EventStream

/** The LLM corpus pipeline: raw corpus to training-ready output as one
  * batch job, then the same operators as incremental streaming twins fed
  * the corpus as two arriving files.
  */
object CorpusPipeline {
  def run(r: Run): Unit = {
    import r._
    val docs = Tables.documents(spark, staged)
    val emb = Tables.embeddings(spark, staged)

    // ---- batch: each public call is materialised at its boundary (a local
    // checkpoint), so a stage's time is its own and each stage runs once;
    // the joins between stages are the glue, reported as one sum. The two
    // outputs are written as parquet.
    val out = s"$work/corpus_out"
    val glue = mutable.ArrayBuffer[Double]()
    def stage(call: String, metric: String)(df: => DataFrame): DataFrame = {
      attempted += 1
      val (cp, s) = timed { tracer.span(call, "call") { df.localCheckpoint(eager = true) } }
      if (metric == "corpus.glue_s") glue += s else samples += ((metric, s))
      cp
    }
    def write(entry: String, df: DataFrame): Unit = {
      val (_, s) = timed { tracer.span(s"write $entry", "call") { df.write.parquet(s"$out/$entry") } }
      samples += (("corpus.write_s", s))
    }
    val chain = op("corpus pipeline") {
      timed {
        val pruned = stage("Dedup.prune", "corpus.near_dup_s")(Dedup.prune(docs))
        val survivors = stage("join survivors", "corpus.glue_s")(
          docs.join(pruned.select("doc_id"), "doc_id"))
        val curated = stage("Corpus.curate", "corpus.curate_s")(Corpus.curate(survivors))
        val kept = stage("join kept docs", "corpus.glue_s")(
          docs.join(curated.select("doc_id"), "doc_id"))
        val packs = stage("Corpus.packSequences", "corpus.pack_s")(Corpus.packSequences(kept))
        write("seq_pack_sequences", packs)
        val sem = stage("Similarity.semdedup", "corpus.semdedup_s")(Similarity.semdedup(emb))
        val vecs = stage("join kept vectors", "corpus.glue_s")(
          emb.join(sem.filter(col("is_kept")).select("vec_id"), "vec_id"))
        val ann = stage("Similarity.knnIvfPq", "corpus.ann_s")(Similarity.knnIvfPq(vecs))
        write("knn_ivf_pq", ann)
        Map("dedup_prune" -> pruned, "survivors" -> survivors, "corpus_curate" -> curated,
          "kept" -> kept, "seq_pack_sequences" -> packs, "semdedup_prune" -> sem,
          "vectors" -> vecs, "knn_ivf_pq" -> ann)
      }
    }
    chain.foreach { case (_, s) =>
      batchS = s
      samples += (("corpus.glue_s", glue.sum))
    }
    quiesce()

    // ---- stream: three twins, each fed its table as two arriving files split
    // at a seeded id, drained, then reconciled where the twin has one
    val rng = new scala.util.Random(seed)
    def cut(n: Long): Long = n / 4 + rng.nextLong(n / 2)
    val docCut = cut(docs.count())
    val evCut = cut(Tables.events(spark, staged).count())
    val gate = GraftConfig.load().gateDropFraction
    val sinks = s"$work/streams"
    def twin(name: String)(start: String => StreamingQuery): Unit = {
      val (_, s) = timed {
        op(name) {
          tracer.span(s"EventStream.$name", "call") {
            val q = start(s"$sinks/$name")
            try q.processAllAvailable() finally q.stop()
            q.exception.foreach(e => throw e)
          }
        }
      }
      samples += (("streaming.twin_s", s))
    }
    val reconciled = mutable.Map[String, (StructType, Array[Row])]()
    def reconcile(name: String, entry: String)(df: => DataFrame): Unit = {
      val (res, s) = timed {
        op(name) { tracer.span(s"EventStream.$name", "call") { val d = df; (d.schema, d.collect()) } }
      }
      res.foreach(reconciled(entry) = _)
      samples += (("streaming.reconcile_s", s))
    }
    val (_, streamS) = timed {
      twin("qualityGateStream")(s =>
        EventStream.qualityGateStream(spark, staged, s, gate, Some(docCut)))
      twin("heavyHittersStream")(s => EventStream.heavyHittersStream(spark, staged, s, Some(evCut)))
      twin("dsirWeightsStream")(s => EventStream.dsirWeightsStream(spark, staged, s, Some(docCut)))
      reconcile("reconcileQualityGate", "quality_gate_relative")(
        EventStream.reconcileQualityGate(spark, s"$sinks/qualityGateStream", gate))
      reconcile("reconcileDsirWeights", "dsir_weights")(
        EventStream.reconcileDsirWeights(spark, s"$sinks/dsirWeightsStream"))
    }
    stepsS = streamS
    quiesce()
    triggers.foreach(t => steps += t.getOrElse("triggerExecution", 0L) / 1e3)
    val stateDirs = Option(new File(sinks).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".state"))
    landedBytes = Main.bytesUnder(new File(out)) + Main.bytesUnder(new File(sinks))
    counts += (("streaming.state_mb", stateDirs.map(Main.bytesUnder).sum / (1024.0 * 1024.0)))
    counts += (("streaming.state_versions",
      stateDirs.map(_.list().count(_.startsWith("upto_"))).sum.toDouble))

    // ---- outside the timed region: oracle groups. The chained stages are
    // checked against the registry entry over the previous stage's output.
    afterwards += (() => dumpForOracle(r, chain.map(_._1), reconciled.toMap))
  }

  private def dumpForOracle(r: Run, chain: Option[Map[String, DataFrame]],
                            reconciled: Map[String, (StructType, Array[Row])]): Unit = {
    import r._
    chain.foreach { out =>
      counts += (("corpus.docs_kept", out("kept").count().toDouble))
      counts += (("corpus.vecs_kept", out("vectors").count().toDouble))
      counts += (("corpus.packs",
        out("seq_pack_sequences").select("pack_id").distinct().count().toDouble))
      val c = s"$work/check/corpus"
      def group(name: String, entries: Seq[String], over: (String, String)*): Unit = {
        val dir = s"$c/$name"
        entries.foreach(e => dump(s"$dir/$e", out(e)))
        val overrides = over.map { case (table, frame) =>
          dump(s"$dir/_override/$table", out(frame))
          table -> s"$dir/_override/$table"
        }.toMap
        oracleGroup(dir, entries, overrides)
      }
      group("raw", Seq("dedup_prune", "semdedup_prune"))
      group("survivors", Seq("corpus_curate"), "documents" -> "survivors")
      group("kept", Seq("seq_pack_sequences"), "documents" -> "kept")
      group("vectors", Seq("knn_ivf_pq"), "embeddings" -> "vectors")
    }
    val sdir = s"$work/check/stream"
    reconciled.foreach { case (e, (schema, rows)) => dump(s"$sdir/$e", schema, rows) }
    oracleGroup(sdir, reconciled.keys)
  }
}
