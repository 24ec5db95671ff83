package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.expressions.{FloatDot, IntDot, MaxSim, MisraGries, MisraGriesBigrams,
  MinHashSig, PolyHash, QuantizeI8, TopKByScore, WordShingleHashes}
import graft.operators.{Dedup, Envelope, FlattenOps, LambdaTransform, OccCommitLog,
  SignalFlattener, Tokenizer, WideColumns}
import graft.sinks.CsvSink
import graft.sources.TarCodec
import org.apache.spark.sql.graft.Bridge

/** Direct calls into each layer's public functions, one span per call
  * (traced runs only). Every layer's output is materialised inside its
  * span, and every input that is not another layer's output is
  * materialised before the spans, so each span times its own layer. */
final class Probes(spark: SparkSession, dir: String, tracer: Tracer, scratch: String,
    cores: Int) {
  import spark.implicits._

  private val OccWriters = (cores - 1).max(1)
  private val OccCommitsPerWriter = 20

  private val held = mutable.ArrayBuffer.empty[DataFrame]

  /** Materialise `df` inside the current span; returns the cached frame. */
  private def done(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += c
    (c, c.count())
  }

  private def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  private val ns = "xmlns:NS1=\"http://uptake.com/bhp/1/sensors\""

  /** The paper's chain on the workload's events: tar unpack → envelope →
    * tokenize → flatten → widen/snake_case → Firehose lambda → CSV. */
  def xml(): Map[String, Any] = {
    val ev = Tables.events(spark, dir)
    // every tenth document carries an element the strict grammar rejects
    val doc = concat(
      format_string(s"<NS1:message $ns><NS1:messagePayload>" +
        "<NS1:vehicleIdentifier>V%s</NS1:vehicleIdentifier>" +
        "<NS1:typeOfReading>%s</NS1:typeOfReading>" +
        "<NS1:readingTimestampUTC>%s</NS1:readingTimestampUTC>" +
        "<NS1:readingCollection>" +
        "<NS1:reading><NS1:attributeName>RMSTotalDB</NS1:attributeName>" +
        "<NS1:attributeValue>%s</NS1:attributeValue></NS1:reading>" +
        "<NS1:reading><NS1:attributeName>speed</NS1:attributeName>" +
        "<NS1:attributeValue>%s</NS1:attributeValue><NS1:attributeUoM>km/h</NS1:attributeUoM></NS1:reading>" +
        "</NS1:readingCollection>",
        col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).cast("string"),
        round(col("value") * 100).cast("long").cast("string"), col("event_id").cast("string")),
      when(col("event_id") % 10 === 0,
        lit("<NS1:badCollection><NS1:x>1</NS1:x></NS1:badCollection>")).otherwise(lit("")),
      lit("</NS1:messagePayload></NS1:message>"))
    // the Firehose record shape the lambda requires (x06's document)
    val firehoseDoc = format_string(s"<NS1:message $ns><NS1:messagePayload>" +
      "<NS1:vehicleIdentifier>V%s</NS1:vehicleIdentifier>" +
      "<NS1:componentIdentifier>C_%s</NS1:componentIdentifier>" +
      "<NS1:positionInTrain>%s</NS1:positionInTrain>" +
      "<NS1:typeOfReading>%s</NS1:typeOfReading>" +
      "<NS1:readingTimestampUTC>%s</NS1:readingTimestampUTC>" +
      "<NS1:readingLocation>SITE_%s</NS1:readingLocation>" +
      "<NS1:sourceSystem>RailBAM</NS1:sourceSystem>" +
      "<NS1:readingCollection>" +
      "<NS1:reading><NS1:attributeName>RMSTotalDB</NS1:attributeName>" +
      "<NS1:attributeValue>%s</NS1:attributeValue></NS1:reading>" +
      "</NS1:readingCollection></NS1:messagePayload></NS1:message>",
      col("user_id").cast("string"), (col("user_id") % 5).cast("string"),
      (col("user_id") % 30).cast("string"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")).cast("string"),
      (col("event_id") % 3).cast("string"),
      round(col("value") * 100).cast("long").cast("string"))
    val docs = ev.select((col("event_id") / 500).cast("long").as("grp"), doc.as("doc"))
    // archive and Firehose record builds are input preparation, outside every span
    val (archives, nArchives) = done(docs.as[(Long, String)]
      .groupByKey(_._1).mapGroups { (g, rows) =>
        val entries = rows.zipWithIndex.map { case ((_, d), i) =>
          (s"$g-$i.xml", d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        (s"blob-$g.tar", TarCodec.archive(entries))
      }.toDF("path", "bytes"))
    val (records, _) = done(
      ev.select(col("event_id"), base64(firehoseDoc.cast("binary")).as("data")))
    val counts = mutable.LinkedHashMap[String, Any]("xml_archives" -> nArchives)
    tracer.span("xml_chain") {
      val (extracted, nDocs) = tracer.span("tar_extract") {
        done(TarCodec.extract(archives.as[(String, Array[Byte])]))
      }
      counts("xml_docs") = nDocs
      val (parsed, _) = tracer.span("envelope") {
        done(Envelope.parse(
          Envelope.wrap(extracted, col("content"), lit("signals")), col("envelope")))
      }
      // compact the documents back into multi-document blobs for the
      // tokenizer; the shuffle is the chain's own glue, outside every layer span
      val (blobs, _) = done(parsed.groupBy(spark_partition_id().as("p"))
        .agg(concat_ws("\n", collect_list(col("payload"))).as("content")))
      val (tokens, _) = tracer.span("tokenize") {
        done(Tokenizer.tokenize(blobs, col("content"), SignalFlattener.endTag))
      }
      val (safe, _) = tracer.span("flatten", Map("mode" -> "safe")) {
        done(FlattenOps.flattenSafe(tokens, "xml", SignalFlattener, Nil))
      }
      val bad = safe.filter(col("error").isNotNull).count()
      counts("quarantined_docs") = bad
      val (strict, _) = tracer.span("flatten", Map("mode" -> "strict")) {
        done(FlattenOps.flattenStrict(
          tokens.filter(!col("xml").contains("badCollection")), "xml", SignalFlattener, Nil))
      }
      val cols = Seq("vehicleIdentifier", "typeOfReading", "readingTimestampUTC",
        "RMSTotalDB", "speed", "speed_UoM")
      val (wide, _) = tracer.span("widen") {
        done(WideColumns.snakeCase(WideColumns.project(strict, "fields", cols)))
      }
      tracer.span("lambda") {
        done(LambdaTransform.transform(records, col("data"), Seq(col("event_id"))))
      }
      tracer.span("csv_sink") {
        CsvSink.write(wide, s"$scratch/csv")
      }
    }
    release()
    counts.toMap
  }

  /** Dedup, ANN scoring, late interaction and heavy hitters over the
    * documents and embeddings tables. */
  def kernels(): Map[String, Any] = {
    val docs = Tables.documents(spark, dir)
    val counts = mutable.LinkedHashMap.empty[String, Any]
    tracer.span("kernels") {
      tracer.span("minhash") {
        done(docs.select(col("doc_id"),
          MinHashSig(WordShingleHashes(col("text"), 4), 32).as("sig")))
      }
      // one join-and-verify run: with minJaccard 0 every candidate pair
      // survives with its overlap; the verified pairs are those at
      // Jaccard >= 0.5, Dedup's own filter applied to the cached candidates
      val (pairs, nCand, nPairs) = tracer.span("lsh_join") {
        val (cand, c) = done(Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
          n = 4, k = 32, bands = 16, minJaccard = 0.0))
        val (verified, v) = done(cand.filter(
          col("shared").cast("double") / (col("ni") + col("nj") - col("shared")) >= 0.5))
        (verified, c, v)
      }
      counts("lsh_candidates") = nCand
      counts("lsh_verified") = nPairs
      val (_, nClustered) = tracer.span("components") {
        done(Dedup.dupClusters(pairs))
      }
      counts("clustered_docs") = nClustered

      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      val (shortlist, _) = tracer.span("pq_adc") {
        done(emb.crossJoin(broadcast(queries))
          .withColumn("s", IntDot(QuantizeI8(col("embedding")), QuantizeI8(col("q"))))
          .groupBy(col("query_id"))
          .agg(TopKByScore(col("s"), col("vec_id"), 50).as("top"))
          .select(col("query_id"), explode(col("top.id")).as("vec_id")))
      }
      tracer.span("rerank") {
        done(shortlist.join(emb, Seq("vec_id")).join(broadcast(queries), Seq("query_id"))
          .withColumn("s", (Bridge.column(FloatDot(Bridge.expression(col("embedding")),
            Bridge.expression(col("q")))) * 1e9).cast("long"))
          .groupBy(col("query_id"))
          .agg(TopKByScore(col("s"), col("vec_id"), 10).as("top")))
      }
      def hashes(text: Column) =
        transform(slice(split(trim(text), "\\s+"), 1, 8), t => PolyHash(t))
      tracer.span("maxsim") {
        val d = docs.select(col("doc_id"), hashes(col("text")).as("dh"))
        val q = docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"), hashes(col("text")).as("qh"))
        done(d.crossJoin(broadcast(q))
          .withColumn("ms", MaxSim(col("qh"), col("dh")))
          .groupBy(col("query_id"))
          .agg(TopKByScore(col("ms"), col("doc_id"), 20).as("top")))
      }
      tracer.span("heavy_hitter") {
        done(docs.agg(MisraGriesBigrams(col("text"), 64).as("bigrams")))
        done(docs.select(explode(split(col("text"), " ")).as("w"))
          .agg(MisraGries(col("w"), 64).as("words")))
      }
    }
    release()
    counts.toMap
  }

  /** Concurrent OCC commits on one log by `OccWriters` threads, then a
    * checkpoint and a log cleanup. */
  def occ(): Map[String, Any] = {
    val logDir = s"$scratch/occ_log"
    val fs = new Path(logDir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(logDir), true)
    fs.mkdirs(new Path(logDir))
    val attempts = new AtomicLong(0)
    val commits = new AtomicLong(0)
    tracer.span("occ") {
      val root = tracer.currentId
      val threads = (0 until OccWriters).map { w =>
        new Thread(() => {
          (0 until OccCommitsPerWriter).foreach { i =>
            tracer.span("occ_commit", Map("writer" -> w), parent = root) {
              val v = OccCommitLog.transact(fs, logDir) { _ =>
                attempts.incrementAndGet()
                Some(("add", s"w$w/part-$i.parquet", Some((s"writer-$w", i.toLong))))
              }
              if (v.isDefined) commits.incrementAndGet()
            }
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      // blind retry-at-tail commits: timed, but their attempts are not
      // observable from outside, so they stay out of the counts
      (0 until OccCommitsPerWriter).foreach { i =>
        tracer.span("occ_commit", Map("writer" -> "blind")) {
          OccCommitLog.commit(fs, logDir, "add", s"blind/part-$i.parquet")
        }
      }
      tracer.span("checkpoint") { OccCommitLog.checkpoint(fs, logDir) }
      tracer.span("clean_log") { OccCommitLog.cleanLog(fs, logDir) }
    }
    Map("occ_commits" -> commits.get, "occ_attempts" -> attempts.get,
      "log_files" -> fs.listStatus(new Path(logDir)).length.toLong)
  }
}
