package graftbench

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator
import graft.Tables
import graft.enrich.{DeterministicEnricher, Enricher}
import graft.model.{ChunkRecord, PageRecord, SectionRecord}
import graft.ops._
import graft.text.{ChunkCorrection, Chunker, FixtureCorpus, PageCorrection, Sections}

/** Enricher wrapper that counts model calls into accumulators (traced
  * runs only; outputs are the wrapped enricher's, unchanged). */
final class CountingEnricher(inner: Enricher, val embedCalls: LongAccumulator,
    val embedTexts: LongAccumulator, val embedNs: LongAccumulator,
    val summaryCalls: LongAccumulator) extends Enricher {
  def chapterSegmentSummary(segment: String, prevSummary: Option[String],
      isFinal: Boolean): String = {
    summaryCalls.add(1)
    inner.chapterSegmentSummary(segment, prevSummary, isFinal)
  }
  def sectionSummary(sectionContent: String, chapterSummary: String,
      hierarchy: String, previousSummaries: Seq[String]): String = {
    summaryCalls.add(1)
    inner.sectionSummary(sectionContent, chapterSummary, hierarchy, previousSummaries)
  }
  def describeDocument(documentContent: String): (String, String) = {
    summaryCalls.add(1)
    inner.describeDocument(documentContent)
  }
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val out = inner.embedBatch(texts)
    embedNs.add(System.nanoTime() - t0)
    embedCalls.add(1)
    embedTexts.add(texts.size)
    out
  }
  def ocrPage(image: Array[Byte], pageNumber: Int): String =
    inner.ocrPage(image, pageNumber)
  def visionAnalyze(passName: String, prompt: String, image: Array[Byte]): String =
    inner.visionAnalyze(passName, prompt, image)
  def visionSynthesize(pageVisionData: Seq[(String, String)], pageNumber: Int): String =
    inner.visionSynthesize(pageVisionData, pageNumber)
  def embeddingDims: Int = inner.embeddingDims
}

/** The `refresh_cycle` workload: the reference's refresh job in one JVM.
  * A cold full build over snapshot 0, then incremental cycles over the generated 1 % churn sequence, then
  * repeated steady rebuilds of the export from the final snapshot by the
  * engine's registered capstone query, which the incrementally maintained
  * export must match. */
final class RefreshCycle(spark: SparkSession, rec: Recorder, report: Report,
    dataDir: String, workDir: String, seed: Long) {
  import spark.implicits._

  private val sc = spark.sparkContext
  private val Cycles = 1
  private val WarmRebuilds = 2
  private val Rebuilds = 5
  private val ProbeVectors = 16
  private val ProbeK = 5
  private val Bm25Queries = 19
  private val Bm25K = 10
  private val NearDup = 0.95
  private val ExportKey = "chapter_number"
  private val keys = Seq("document_id", "chapter_number", "section_number",
    "chunk_number")

  private val counting: Option[CountingEnricher] =
    if (!rec.enabled) None
    else Some(new CountingEnricher(new DeterministicEnricher(64),
      sc.longAccumulator("embed_calls"), sc.longAccumulator("embed_texts"),
      sc.longAccumulator("embed_ns"), sc.longAccumulator("summary_calls")))
  private val enricher: Enricher =
    counting.getOrElse(new DeterministicEnricher(64))

  private val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$dataDir/manifest.json"))
  private val cycles = manifest.get("cycles").asScala.toIndexedSeq
  private def ids(k: Int, field: String): Set[Long] =
    cycles(k - 1).get(field).asScala.map(_.asLong).toSet

  private def snapDir(k: Int) = f"$dataDir/snap_$k%03d"
  private val fs = new Path(workDir).getFileSystem(sc.hadoopConfiguration)

  private def dirBytes(p: String): Long = fs.getContentSummary(new Path(p)).getLength
  private def remove(p: String): Unit = fs.delete(new Path(p), true)

  private def parquetFiles(p: String): Int = {
    val it = fs.listFiles(new Path(p), true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  // ---- the pipeline, composed from the engine's public stages --------

  /** pages → sections (+ chapter summaries) → W5 correction → chunks →
    * W7 correction → embeddings, joined back onto the chunks: the chain
    * the registered q_pipe_full_export runs, before its 28-column
    * projection. */
  private def pipeline(docs: DataFrame): DataFrame = {
    val pgs = Checkpoints.registerTransient(
        docs.select(col("doc_id"), col("text")).as[(Long, String)]
          .flatMap { case (id, text) => FixtureCorpus.pages(id, text) }.toDF())
      .as[PageRecord]
    val summaries = EnrichStages.enrichPages(pgs, enricher)
      .groupBy(col("document_id"), col("chapter_number"))
      .agg(first(col("chapter_summary")).as("chapter_summary_agg"))
    val sections = EnrichStages.summarizeSections(
        DocPipeline.correctSectionPages(DocPipeline.pagesToSections(pgs)), enricher)
      .drop("chapter_summary")
      .join(summaries, Seq("document_id", "chapter_number"), "left")
      .withColumnRenamed("chapter_summary_agg", "chapter_summary")
      .as[SectionRecord]
    val chunks = Checkpoints.registerTransient(
        DocPipeline.correctChunkPages(DocPipeline.sectionsToChunks(sections)).toDF())
      .as[ChunkRecord]
    val embedded = EnrichStages.embedChunks(chunks, enricher)
      .select((keys :+ "embedding").map(col): _*)
    chunks.join(embedded, keys)
  }

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The raw-vector store the ANN index re-ranks against: one row per
    * embedded chunk. */
  private def vectorsOf(full: DataFrame): DataFrame =
    full.filter(col("embedding").isNotNull).select(
      (col("chapter_number").cast("long") * 1000000L +
        col("section_number").cast("long") * 1000L +
        col("chunk_number").cast("long")).as("vec_id"),
      col("chapter_number").cast("long").as("doc_id"),
      col("embedding"))

  /** Document-level vectors for near-duplicate clustering. */
  private def docVectors(docs: DataFrame): DataFrame = {
    val e = enricher
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.grouped(32).flatMap { b =>
        b.map(_._1).zip(e.embedBatch(b.map(_._2)))
      })
      .toDF("vec_id", "embedding")
  }

  private def listing(docs: DataFrame): DataFrame = docs.select(
    concat(lit("doc_"), col("doc_id"), lit(".pdf")).as("file_name"),
    concat(lit("/corpus/"), col("source"), lit("/doc_"), col("doc_id"),
      lit(".pdf")).as("file_path"),
    col("n_chars").as("file_size"),
    col("mtime").cast("timestamp").as("date_created"),
    col("mtime").cast("timestamp").as("date_last_modified"))

  /** Catalog rows for to-process files (every column but the minted id). */
  private def freshCatalog(toProcess: DataFrame): DataFrame = toProcess.select(
    col("file_name"), col("file_path"),
    split_part(col("file_path"), lit("/"), lit(3)).as("document_source"),
    lit("pdf").as("document_type"),
    regexp_replace(col("file_name"), lit("\\.pdf$"), lit("")).as("document_name"),
    col("date_last_modified"))

  private val catalogSchema = StructType(Seq(
    StructField("id", LongType), StructField("file_name", StringType),
    StructField("file_path", StringType), StructField("document_source", StringType),
    StructField("document_type", StringType), StructField("document_name", StringType),
    StructField("date_last_modified", TimestampType)))
  private val deleteSchema = StructType(Seq(
    StructField("id", LongType), StructField("document_source", StringType),
    StructField("document_type", StringType), StructField("document_name", StringType)))

  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private def idOf(fileName: String): Long =
    fileName.stripPrefix("doc_").stripSuffix(".pdf").toLong

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  // ---- builds ---------------------------------------------------------

  /** Full build of snapshot `k` into `root`, as version 0 of every store. */
  private def fullBuild(k: Int, root: String, label: String): Unit = {
    rec.newTrace()
    rec.span(label) {
      val docs = Tables.documents(spark, snapDir(k))
      val full = rec.span("ops.Pipeline") { materialize(pipeline(docs)) }
      rec.span("ops.DbExport") {
        write(DbExport.toDbRows(full), s"$root/export/v_0")
        write(vectorsOf(full), s"$root/vectors/v_0")
      }
      rec.span("ops.MasterUpsert") {
        write(MasterUpsert.upsert(empty(catalogSchema), empty(deleteSchema),
          freshCatalog(listing(docs)), Seq("file_name")), s"$root/catalog/v_0")
      }
      rec.span("ops.AnnIndex") {
        AnnIndex.save(spark.read.parquet(s"$root/vectors/v_0")
          .select("vec_id", "embedding"), s"$root/ann")
      }
      rec.span("ops.InvertedIndex") {
        InvertedIndex.save(docs, "doc_id", "text", s"$root/inv")
      }
      rec.span("ops.Dedup") {
        val dv = materialize(docVectors(docs))
        val pairs = Similarity.cosinePairsAdaptive(dv, NearDup)
        rec.span("components") {
          write(Dedup.connectedComponents(dv.select("vec_id"), "vec_id",
            pairs, "vec_a", "vec_b"), s"$root/labels/v_0")
        }
        dv.unpersist()
      }
      full.unpersist()
      Checkpoints.releaseTransients()
    }
  }

  // ---- one incremental cycle -----------------------------------------

  private var live = Set.empty[Long]

  /** Cycle `k`: snapshot k-1 → k over the stores in `root`. Returns the
    * cycle's wall seconds, or -1 when any step failed. */
  private def cycle(k: Int, root: String): Double = {
    val inserted = ids(k, "inserted")
    val updated = ids(k, "updated")
    val deleted = ids(k, "deleted")
    val enrichBefore: (Long, Long, Long, Long) = counting.map(c =>
      (c.embedCalls.sum, c.embedTexts.sum, c.embedNs.sum, c.summaryCalls.sum))
      .getOrElse((0L, 0L, 0L, 0L))
    val t0 = System.nanoTime()
    rec.newTrace()
    var bytesWritten = 0L
    var freshBytes = 0L
    val ok = report.check(s"cycle $k") {
      rec.span("cycle") {
        val oldDocs = Tables.documents(spark, snapDir(k - 1))
        val newDocs = Tables.documents(spark, snapDir(k))
        val diff = rec.span("ops.SnapshotDiff") {
          SnapshotDiff.diff(oldDocs, newDocs, "doc_id")
            .select("doc_id", "change_type").as[(Long, String)].collect()
        }
        val byType = diff.groupBy(_._2).map { case (t, v) => t -> v.map(_._1).toSet }
        report.check(s"cycle $k: snapshot diff matches the generated churn") {
          byType.getOrElse("added", Set()) == inserted &&
          byType.getOrElse("removed", Set()) == deleted &&
          byType.getOrElse("changed", Set()) == updated
        }
        val (toProcess, toDelete) = rec.span("ops.Cdc") {
          val cls = Cdc.classify(listing(newDocs),
            spark.read.parquet(s"$root/catalog/v_${k - 1}"))
          val changed = spark.createDataFrame(
            cls.filter(col("reason") =!= "unchanged").collect().toList.asJava,
            cls.schema)
          (Cdc.toProcess(changed), Cdc.toDelete(changed))
        }
        val processIds = toProcess.select("file_name").as[String].collect()
          .map(idOf).toSet
        val deleteIds = toDelete.select("file_name").as[String].collect()
          .map(idOf).toSet
        freshBytes = toProcess.agg(coalesce(sum("file_size"), lit(0L)))
          .as[Long].head()
        report.check(s"cycle $k: CDC lists match the generated churn") {
          processIds == inserted ++ updated && deleteIds == deleted ++ updated
        }
        val freshDocs = newDocs.join(broadcast(processIds.toSeq.toDF("doc_id")),
          Seq("doc_id"))
        val full = rec.span("ops.Pipeline") { materialize(pipeline(freshDocs)) }
        val goneKeys = broadcast((deleted ++ updated).toSeq.toDF("doc_id"))
        rec.span("ops.DbExport") {
          val master = spark.read.parquet(s"$root/export/v_${k - 1}")
            .join(broadcast(deleted.toSeq.map(_.toInt).toDF(ExportKey)),
              Seq(ExportKey), "left_anti")
          val fresh = DbExport.toDbRows(full)
          write(DbExport.replaceByKey(master, fresh, ExportKey), s"$root/export/v_$k")
          val vecs = spark.read.parquet(s"$root/vectors/v_${k - 1}")
            .join(goneKeys, Seq("doc_id"), "left_anti")
          write(vecs.unionByName(vectorsOf(full)), s"$root/vectors/v_$k")
        }
        rec.span("ops.MasterUpsert") {
          write(MasterUpsert.upsert(spark.read.parquet(s"$root/catalog/v_${k - 1}"),
            toDelete, freshCatalog(toProcess), Seq("file_name")),
            s"$root/catalog/v_$k")
        }
        val annBefore = IndexVersioning.committedVersions(spark, s"$root/ann")
        rec.span("ops.AnnIndex") {
          AnnIndex.upsert(vectorsOf(full).select("vec_id", "embedding"), s"$root/ann")
        }
        val invBefore = IndexVersioning.committedVersions(spark, s"$root/inv")
        rec.span("ops.InvertedIndex") {
          InvertedIndex.save(newDocs, "doc_id", "text", s"$root/inv")
        }
        rec.span("ops.Dedup") {
          val dv = materialize(docVectors(newDocs))
          val touched = (inserted ++ updated).toSeq.toDF("t")
          val newPairs = Similarity.cosinePairsAdaptive(dv, NearDup)
            .join(broadcast(touched), col("vec_a") === col("t") ||
              col("vec_b") === col("t"), "left_semi")
          val labels = spark.read.parquet(s"$root/labels/v_${k - 1}")
            .join(goneKeys.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"),
              "left_anti")
          rec.span("components") {
            write(Dedup.incrementalComponents(labels, "vec_id", "cluster_id",
              newPairs, "vec_a", "vec_b", dv.select("vec_id")),
              s"$root/labels/v_$k")
          }
          dv.unpersist()
        }
        full.unpersist()
        Checkpoints.releaseTransients()
        live = live -- deleted ++ inserted
        val annV = IndexVersioning.committedVersions(spark, s"$root/ann")
        val invV = IndexVersioning.committedVersions(spark, s"$root/inv")
        report.check(s"cycle $k: index versions advanced") {
          annV.last > annBefore.last && invV.last > invBefore.last
        }
        if (rec.enabled) {
          bytesWritten = Seq(s"export/v_$k", s"vectors/v_$k", s"catalog/v_$k",
            s"labels/v_$k", s"ann/v_${annV.last}", s"inv/v_${invV.last}")
            .map(p => dirBytes(s"$root/$p")).sum
          report.add("layer:ops.AnnIndex.files_written",
            parquetFiles(s"$root/ann/v_${annV.last}").toDouble)
          report.add("layer:ops.DbExport.rows_rewritten_per_changed",
            spark.read.parquet(s"$root/export/v_$k").count().toDouble /
              math.max(1, inserted.size + updated.size + deleted.size))
        }
        probe(k, root)
        true
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (rec.enabled) {
      report.add("layer:sources.bytes_written", bytesWritten.toDouble)
      report.add("layer:sources.write_amp",
        bytesWritten.toDouble / math.max(1L, freshBytes))
      report.add("layer:ops.Checkpoints.storage_mb",
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0)
      report.add("layer:ops.Checkpoints.cached_rdds", sc.getPersistentRDDs.size.toDouble)
      counting.foreach { c =>
        val (calls, texts, ns, summaries) = enrichBefore
        val dc = c.embedCalls.sum - calls
        report.add("layer:enrich.embed_calls", dc.toDouble)
        report.add("layer:enrich.texts_per_embed_call",
          (c.embedTexts.sum - texts).toDouble / math.max(1L, dc))
        report.add("layer:enrich.embed_ms", (c.embedNs.sum - ns) / 1e6)
        report.add("layer:enrich.summary_calls", (c.summaryCalls.sum - summaries).toDouble)
      }
      val t = System.nanoTime()
      Tables.documents(spark, snapDir(k)).write.format("noop").mode("overwrite").save()
      report.add("layer:Tables.scan_ms", (System.nanoTime() - t) / 1e6)
    }
    if (ok) wall else -1.0
  }

  /** One read-after-write probe batch against version `k`: ANN top-k for
    * 16 seeded stored vectors and BM25 for 19 seeded term pairs. Each call
    * is one query. */
  private def probe(k: Int, root: String): Unit = {
    val rng = new scala.util.Random(seed * 1000003L + k)
    val vecs = spark.read.parquet(s"$root/vectors/v_$k")
    val queries = vecs.orderBy(xxhash64(col("vec_id"), lit(seed + k)))
      .limit(ProbeVectors).select("vec_id", "embedding")
    val ann = Queries.timed(rec, report, "AnnIndex.topK") {
      AnnIndex.topK(spark, s"$root/ann", vecs.select("vec_id", "embedding"),
        queries, ProbeK)
    }
    val vocab = Seq("agg", "batch", "column", "customer", "data", "filter",
      "group", "hash", "join", "merge", "order", "query", "scan", "sort",
      "spark", "stream", "table", "value", "vector", "window")
    val bm = (1 to Bm25Queries).map { _ =>
      val terms = Seq(vocab(rng.nextInt(vocab.size)), vocab(rng.nextInt(vocab.size)))
      Queries.timed(rec, report, "InvertedIndex.bm25TopK") {
        InvertedIndex.bm25TopK(spark, s"$root/inv", terms, Bm25K)
      }
    }
    report.check(s"version $k: ANN probe returns k live rows per query") {
      val rows = ann.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      rows.groupBy(_._1).size == ProbeVectors &&
      rows.groupBy(_._1).values.forall(_.size == ProbeK) &&
      rows.forall(r => live.contains(r._2 / 1000000L))
    }
    report.check(s"version $k: BM25 probes return k live rows") {
      bm.forall(r => r.length == Bm25K &&
        r.forall(x => live.contains(x.getAs[Long]("doc_id"))))
    }
  }

  // ---- checks ---------------------------------------------------------

  /** Order-independent content hash and row count of a frame. */
  private def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def finalChecks(last: Int, root: String, rebuilt: String): Unit = {
    report.check("incremental export equals the registered full export") {
      contentHash(spark.read.parquet(s"$root/export/v_$last")) ==
        contentHash(spark.read.parquet(rebuilt))
    }
    report.check("catalog master: unique ids, exactly the live documents") {
      val cat = spark.read.parquet(s"$root/catalog/v_$last")
      val r = cat.agg(count(lit(1)), countDistinct("id")).head()
      val names = cat.select("file_name").as[String].collect().map(idOf).toSet
      r.getLong(0) == r.getLong(1) && names == live
    }
    report.check("vector store ids are unique") {
      val r = spark.read.parquet(s"$root/vectors/v_$last")
        .agg(count(lit(1)), countDistinct("vec_id")).head()
      r.getLong(0) == r.getLong(1)
    }
  }

  /** Single-thread driver-side text probe over a seeded document sample:
    * pages → sections → W5 → chunks → W7, pages per second. */
  private def textProbe(k: Int): Unit = {
    val docs = Tables.documents(spark, snapDir(k))
      .orderBy(xxhash64(col("doc_id"), lit(seed))).limit(200)
      .select("doc_id", "text").as[(Long, String)].collect()
    var pages = 0L
    val t0 = System.nanoTime()
    docs.foreach { case (id, text) =>
      val pgs = FixtureCorpus.pages(id, text)
      pages += pgs.size
      val secs = Sections.mergeSmall(Sections.hierarchicalSplit(
        pgs.map(p => (Some(p.page_number): Option[Int], p.page_reference, p.content)),
        pgs.head.chapter_name))
      val corrected = PageCorrection.correctChapter(secs.map(s =>
        PageCorrection.Sec(s.sectionNumber, s.content, s.startPage, s.endPage)))
      ChunkCorrection.correctChapter(corrected.flatMap { s =>
        Chunker.chunkWithTokens(s.content).zipWithIndex.map { case ((c, _), i) =>
          ChunkCorrection.Chk(s.sectionNumber, i + 1, c, s.startPage, s.endPage)
        }
      })
    }
    report.layers("text.pages_per_s") = pages / ((System.nanoTime() - t0) / 1e9)
  }

  def run(): Unit = {
    val root = s"$workDir/live"
    val rebuilt = s"$workDir/rebuild"
    Seq(root, rebuilt).foreach(remove)
    live = (0L until manifest.get("docs").asLong).toSet
    val start = System.currentTimeMillis()
    report.add("setup_jvm_s", (start -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    report.add("build_cold_s",
      report.timed("cold full build") { fullBuild(0, root, "build.cold") })
    (1 to Cycles).foreach { k =>
      val w = cycle(k, root)
      if (w >= 0) report.add("cycle_s", w)
    }
    // the steady rebuild: the export from the final snapshot by the
    // registered q_pipe_full_export, the oracle-checked form of the
    // pipeline this workload composes incrementally. The first rebuilds
    // after the cycle are still warming up (the first ~40 %, the second
    // ~10 % slower than later ones), so they are not timed; build_s is the
    // median of the `Rebuilds` after them.
    (1 to WarmRebuilds + Rebuilds).foreach { i =>
      val t = report.timed(s"steady export rebuild $i") {
        rec.newTrace()
        rec.span("build.steady") {
          graft.SparkEntry.queries("q_pipe_full_export")(spark, snapDir(Cycles))
            .write.mode("overwrite").parquet(rebuilt)
        }
      }
      if (i > WarmRebuilds) report.add("build_s", t)
    }
    finalChecks(Cycles, root, rebuilt)
    if (rec.enabled) textProbe(Cycles)
  }
}
