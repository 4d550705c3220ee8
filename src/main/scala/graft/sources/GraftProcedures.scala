package graft.sources

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.format.Timeline
import graft.write.{FormatWriter, MorWriter, TableMaintenance}

/** SQL `CALL` surface for table maintenance: the engine's administrative
  * verbs ([[graft.write.TableMaintenance]], MOR compaction, the delete
  * view) exposed as DSv2 stored procedures on [[GraftCatalog]] —
  * `CALL g.system.clean(table => 'ns.t', retain_commits => 3)` — the same
  * operational surface Hudi ships as Spark SQL procedures (the reference's
  * users drive compaction/cleaning/savepoints this way; ref:
  * `/root/reference/README.md:5` operates on such maintained tables).
  *
  * Execution model: Spark's `InvokeProcedures` analyzer rule calls
  * [[BoundProcedure.call]] once with the coerced argument row and turns
  * each returned [[LocalScan]] into a `LocalRelation` — so every
  * procedure's RESULT must be metadata-sized (file lists, commit ids,
  * counters: the same O(#touched file groups) driver scale the writers
  * already hold). The underlying work itself runs as ordinary distributed
  * jobs; nothing data-sized crosses the driver. Procedures whose natural
  * output IS data-sized (the delete view) return a summary row pointing
  * at the materialized result instead.
  *
  * Safety: table arguments resolve through the catalog's own
  * warehouse-containment validation (backquoted identifiers carrying
  * `/` or `..` are rejected, exactly as for table DDL), and every
  * commit-minting procedure reserves its timestamp through the shared
  * OCC protocol (`FormatWriter.nextTs`) and releases it on every exit.
  */
private[sources] object GraftProcedures {

  /** Virtual namespace the procedures live under (`CALL g.system.x(...)`,
    * mirroring Hudi/Iceberg convention). It is not a warehouse directory —
    * procedure resolution never touches storage. */
  val Namespace: Array[String] = Array("system")

  private def spark: SparkSession = SparkSession.active
  private def timeline(path: String): Timeline =
    Timeline(spark.sessionState.newHadoopConf(), path)

  // ---- result-row helpers ------------------------------------------------

  private def row(vs: Any*): InternalRow =
    new GenericInternalRow(vs.map {
      case s: String => UTF8String.fromString(s)
      case x => x.asInstanceOf[AnyRef]
    }.toArray[Any])

  private def strRows(vs: Seq[String]): Seq[InternalRow] = vs.map(row(_))

  private def out(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  // ---- parameter helpers -------------------------------------------------

  private def in(name: String, dt: DataType, comment: String,
      default: Option[String] = None): ProcedureParameter = {
    var b = ProcedureParameter.in(name, dt).comment(comment)
    default.foreach(d => b = b.defaultValue(d))
    b.build()
  }

  private def tableParam: ProcedureParameter =
    in("table", StringType, "table identifier, e.g. 'ns.t' or 'cat.ns.t'")

  private def str(r: InternalRow, i: Int): String =
    r.getUTF8String(i).toString

  private def optStr(r: InternalRow, i: Int): Option[String] =
    if (r.isNullAt(i)) None else Some(str(r, i))

  /** Split a comma-separated list argument, trimming blanks. */
  private def csv(r: InternalRow, i: Int): Seq[String] =
    str(r, i).split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** Mint a reserved commit ts, run `body`, always release the
    * reservation (a completed commit has already cleared its marker — the
    * release is a no-op there; a no-op or failed attempt frees the ts
    * instead of orphaning a live-lease marker that would shield debris). */
  private def withMintedTs[A](tl: Timeline)(body: String => A): A = {
    val ts = FormatWriter.nextTs(tl)
    try body(ts) finally tl.unreserve(ts)
  }

  // ---- the procedures ----------------------------------------------------

  /** One procedure: `params` ordering defines the bound input row.
    * `bind` ignores the caller-supplied struct — the signature is fixed
    * and Spark coerces/rearranges arguments against [[parameters]]. */
  private final class Proc(
      procName: String,
      procDescription: String,
      params: Seq[ProcedureParameter],
      outSchema: StructType,
      run: (GraftCatalog, InternalRow) => Seq[InternalRow],
      catalog: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): JIterator[Scan] =
      Collections.singletonList[Scan](
        new GraftLocalScan(outSchema, run(catalog, input).toArray)).iterator()
  }

  def all(catalog: GraftCatalog): Map[String, UnboundProcedure] = {
    def proc(name: String, description: String,
        params: Seq[ProcedureParameter], outSchema: StructType)(
        run: (GraftCatalog, InternalRow) => Seq[InternalRow])
        : (String, UnboundProcedure) =
      name -> new Proc(name, description, params, outSchema, run, catalog)

    Map(
      proc("clean",
        "delete data files unreachable by the newest retain_commits " +
          "snapshots (savepointed snapshots always kept)",
        Seq(tableParam,
          in("retain_commits", IntegerType, "snapshots to keep readable")),
        out("deleted_path" -> StringType)) { (cat, r) =>
        strRows(TableMaintenance.clean(spark,
          cat.resolveTablePath(str(r, 0)), r.getInt(1)))
      },

      proc("rollback",
        "undo every commit after to_ts (files + timeline); refuses " +
          "archived or savepointed targets",
        Seq(tableParam, in("to_ts", StringType, "newest instant to keep")),
        out("undone_ts" -> StringType)) { (cat, r) =>
        strRows(TableMaintenance.rollback(spark,
          cat.resolveTablePath(str(r, 0)), str(r, 1)))
      },

      proc("restore",
        "roll the table back to a SAVEPOINTED instant",
        Seq(tableParam, in("savepoint_ts", StringType, "savepoint to restore")),
        out("undone_ts" -> StringType)) { (cat, r) =>
        strRows(TableMaintenance.restore(spark,
          cat.resolveTablePath(str(r, 0)), str(r, 1)))
      },

      proc("savepoint",
        "pin an instant's snapshot against clean() and archival " +
          "(ts omitted = latest commit)",
        Seq(tableParam, in("ts", StringType,
          "instant to pin; NULL = latest", default = Some("NULL"))),
        out("savepoint_ts" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val tl = timeline(path)
        val ts = optStr(r, 1).getOrElse(tl.completedInstants().lastOption
          .getOrElse(throw new IllegalArgumentException(
            s"$path has no commits to savepoint")).ts)
        TableMaintenance.savepoint(spark, path, ts)
        Seq(row(ts))
      },

      proc("release_savepoint",
        "release a savepoint (the snapshot becomes reclaimable again)",
        Seq(tableParam, in("ts", StringType, "savepoint to release")),
        out("released_ts" -> StringType)) { (cat, r) =>
        val ts = str(r, 1)
        TableMaintenance.releaseSavepoint(spark,
          cat.resolveTablePath(str(r, 0)), ts)
        Seq(row(ts))
      },

      proc("compact",
        "fold MOR delta files into fresh base files for every file group " +
          "carrying at least min_deltas deltas",
        Seq(tableParam, in("min_deltas", IntegerType,
          "only compact groups with at least this many deltas",
          default = Some("1"))),
        out("commit_ts" -> StringType, "committed" -> BooleanType)) {
        (cat, r) =>
          val (ts, committed) = MorWriter.compactTableAt(spark,
            cat.resolveTablePath(str(r, 0)), minDeltas = r.getInt(1))
          Seq(row(ts, Boolean.box(committed)))
      },

      proc("archive",
        "move old completed instants into the compacted archive manifest, " +
          "keeping keep_active on the active timeline",
        Seq(tableParam, in("keep_active", IntegerType,
          "completed instants to keep active")),
        out("archived_ts" -> StringType)) { (cat, r) =>
        strRows(TableMaintenance.archiveTimeline(spark,
          cat.resolveTablePath(str(r, 0)), r.getInt(1)))
      },

      proc("cluster_sort",
        "layout-only CLUSTER commit: rewrite every live file group sorted " +
          "by cols (identity, fileIds and commit times preserved)",
        Seq(tableParam,
          in("cols", StringType, "comma-separated sort columns")),
        out("file_id" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        withMintedTs(timeline(path)) { ts =>
          strRows(TableMaintenance.sortLayout(spark, path, ts, csv(r, 1)))
        }
      },

      proc("cluster_zorder",
        "layout-only CLUSTER commit sorted by the Morton (Z-curve) value " +
          "over cols: row groups prune on ANY of the z-ordered columns",
        Seq(tableParam,
          in("cols", StringType, "comma-separated z-order columns (>= 2)"),
          in("bits", IntegerType, "quantile-bucket bits per column",
            default = Some("8"))),
        out("file_id" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        withMintedTs(timeline(path)) { ts =>
          strRows(TableMaintenance.zorderLayout(spark, path, ts, csv(r, 1),
            bits = r.getInt(2)))
        }
      },

      proc("rebucket",
        "rewrite the table at a new file-group grain (bucket rescale); " +
          "appends and bucket pruning then run at the new count",
        Seq(tableParam, in("buckets", IntegerType, "new bucket count")),
        out("file_id" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        withMintedTs(timeline(path)) { ts =>
          strRows(TableMaintenance.rebucket(spark, path, ts, r.getInt(1)))
        }
      },

      proc("drop_partitions",
        "retire whole partitions in ONE metadata-only commit (no data IO; " +
          "files reclaimed later by clean)",
        Seq(tableParam,
          in("partitions", StringType, "comma-separated partition paths")),
        out("superseded_file_id" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        withMintedTs(timeline(path)) { ts =>
          strRows(TableMaintenance.deletePartitions(spark, path, ts, csv(r, 1)))
        }
      },

      proc("sweep_orphans",
        "delete data files no commit references (failed/conflicted write " +
          "debris older than older_than_ms and not under a live lease)",
        Seq(tableParam, in("older_than_ms", LongType,
          "minimum debris age in milliseconds",
          default = Some(s"${60L * 60 * 1000}"))),
        out("deleted_path" -> StringType)) { (cat, r) =>
        strRows(TableMaintenance.sweepOrphans(spark,
          cat.resolveTablePath(str(r, 0)), olderThanMs = r.getLong(1)))
      },

      proc("delete_view",
        "materialize the records-deleted-at-commit view (the reference's " +
          "core operation; ref: hudi-delete-view README.md:5) and return " +
          "its summary - the view itself is data-sized, so it lands in " +
          "the table's .delete/<ts>/ parquet cache, not in this result",
        Seq(tableParam, in("ts", StringType,
          "commit to view deletions of; NULL = latest",
          default = Some("NULL"))),
        out("commit_ts" -> StringType, "n_deleted" -> LongType,
          "cache_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val tl = timeline(path)
        val ts = optStr(r, 1).getOrElse(tl.completedInstants().lastOption
          .getOrElse(throw new IllegalArgumentException(
            s"$path has no commits")).ts)
        val n = graft.deleteview.DeleteView(spark, path, ts).toDF().count()
        Seq(row(ts, Long.box(n), s"$path/.delete/$ts"))
      },

      proc("text_index_build",
        "build the BM25 positional inverted index over a table's text " +
          "column under <table>/.text_index (a dot-dir: invisible to " +
          "data listing and never swept) - the index the text_search / " +
          "phrase_search procedures serve from",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("term_buckets", IntegerType,
            "postings partition count (query prunes to its terms' buckets)",
            default = Some("16")),
          in("max_df_permille", IntegerType,
            "drop terms present in more than this fraction of docs " +
              "(stop-word skew cap); 1000 keeps all",
            default = Some("1000"))),
        out("n_docs" -> LongType, "total_tokens" -> LongType,
          "index_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val idxDir = s"$path/.text_index"
        val docs = graft.read.SnapshotReader.read(spark, path)
        graft.pipeline.TextRetrieval.buildIndex(spark, docs,
          org.apache.spark.sql.functions.col(str(r, 1)),
          org.apache.spark.sql.functions.col(str(r, 2)),
          idxDir, termBuckets = r.getInt(3), maxDfPermille = r.getInt(4))
        val st = spark.read.parquet(s"$idxDir/stats").head()
        Seq(row(Long.box(st.getLong(0)), Long.box(st.getLong(1)), idxDir))
      },

      proc("text_search",
        "top-k BM25 documents for space-separated query terms from the " +
          "table's .text_index (exact scaled-integer scorer; result is " +
          "k-bounded, the search itself runs distributed and " +
          "partition-pruned)",
        Seq(tableParam,
          in("terms", StringType, "space-separated query terms"),
          in("k", IntegerType, "results to return", default = Some("10")),
          in("term_buckets", IntegerType,
            "termBuckets the index was built with", default = Some("16"))),
        out("doc_id" -> LongType, "score" -> LongType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val terms = str(r, 1).trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
          .filter(_.nonEmpty)
        graft.pipeline.TextRetrieval.exactTopK(spark, s"$path/.text_index",
            terms, r.getInt(2), r.getInt(3))
          .collect().toSeq // k-bounded by construction
          .map(x => row(Long.box(x.getLong(0)), Long.box(x.getLong(1))))
      },

      proc("phrase_search",
        "documents containing the consecutive token sequence, with exact " +
          "occurrence counts, from the table's .text_index positional " +
          "postings (k-bounded result)",
        Seq(tableParam,
          in("phrase", StringType, "space-separated phrase tokens"),
          in("k", IntegerType, "results to return", default = Some("10")),
          in("term_buckets", IntegerType,
            "termBuckets the index was built with", default = Some("16"))),
        out("doc_id" -> LongType, "n_occur" -> LongType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val phrase = str(r, 1).trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
          .filter(_.nonEmpty)
        graft.pipeline.TextRetrieval.phraseTopK(spark, s"$path/.text_index",
            phrase, r.getInt(2), r.getInt(3))
          .collect().toSeq // k-bounded by construction
          .map(x => row(Long.box(x.getLong(0)), Long.box(x.getLong(1))))
      },

      proc("more_like_this",
        "top-k documents similar to the given one: its m rarest terms " +
          "(max idf) become the BM25 query, source excluded - the doc's " +
          "text resolves via a key-pruned point lookup, the search from " +
          "the table's .text_index (k-bounded result)",
        Seq(tableParam,
          in("doc_id", LongType, "source document id (the table key)"),
          in("text_col", StringType, "text column"),
          in("k", IntegerType, "results to return", default = Some("10")),
          in("m", IntegerType, "query terms to select",
            default = Some("5")),
          in("term_buckets", IntegerType,
            "termBuckets the index was built with", default = Some("16"))),
        out("doc_id" -> LongType, "score" -> LongType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val selfId = r.getLong(1)
        // point lookup by record key: bucket pruning + stats skipping
        // serve this at file-listing time — one file group's read
        val text = graft.read.SnapshotReader.read(spark, path)
          .where(org.apache.spark.sql.functions
            .col(graft.format.MetaCols.RecordKey) === selfId.toString)
          .select(org.apache.spark.sql.functions.col(str(r, 2)))
          .collect() match {
          case Array(row) => row.getString(0)
          case other => throw new IllegalArgumentException(
            s"doc_id $selfId resolved ${other.length} rows in ${str(r, 0)}")
        }
        graft.pipeline.TextRetrieval.moreLikeThis(spark,
            s"$path/.text_index", text, selfId, r.getInt(3), r.getInt(4),
            r.getInt(5))
          .collect().toSeq // k-bounded by construction
          .map(x => row(Long.box(x.getLong(0)), Long.box(x.getLong(1))))
      },

      proc("substr_dedup",
        "ExactSubstr duplicated-span removal (Lee et al. 2022) over the " +
          "table's text column: every w-token window occurring min_dup+ " +
          "times in the corpus is cut from every doc containing it. The " +
          "cleaned corpus is data-sized, so it lands under " +
          "<table>/.substr_dedup/ (doc_id, kept_text, n_tokens, " +
          "removed_tokens) and this result is the summary",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("w", IntegerType, "window width in tokens",
            default = Some("8")),
          in("min_dup", IntegerType,
            "occurrences for a window to count as duplicated",
            default = Some("2"))),
        out("n_docs" -> LongType, "docs_modified" -> LongType,
          "tokens_removed" -> LongType, "out_path" -> StringType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val outDir = s"$path/.substr_dedup"
        val docs = graft.read.SnapshotReader.read(spark, path)
        graft.pipeline.Dedup.substrDedup(docs,
            org.apache.spark.sql.functions.col(str(r, 1)),
            org.apache.spark.sql.functions.col(str(r, 2)),
            w = r.getInt(3), minDupCount = r.getInt(4))
          .write.mode("overwrite").parquet(outDir)
        val st = spark.read.parquet(outDir).selectExpr("count(*)",
          "coalesce(sum(CASE WHEN removed_tokens > 0 THEN 1 ELSE 0 END), 0)",
          "coalesce(sum(removed_tokens), 0)").head()
        Seq(row(Long.box(st.getLong(0)), Long.box(st.getLong(1)),
          Long.box(st.getLong(2)), outDir))
      },

      proc("knn_graph",
        "k-nearest-neighbor graph over the table's embedding column via " +
          "the IVF cell join (neither side broadcast - the whole-corpus " +
          "query shape); the directed top-k edge set is data-sized, so " +
          "it lands under <table>/.knn_graph/ (query_id, corpus_id, " +
          "rank, cosine_micro) and this result is the summary",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT vector id column"),
          in("vec_col", StringType, "ARRAY<FLOAT> embedding column"),
          in("k", IntegerType, "neighbors per vector", default = Some("3")),
          in("nlist", IntegerType, "IVF cells", default = Some("8")),
          in("nprobe", IntegerType,
            "cells probed per query (= nlist for exact)",
            default = Some("2"))),
        out("n_edges" -> LongType, "mutual_edges" -> LongType,
          "out_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val outDir = s"$path/.knn_graph"
        val ds = graft.read.SnapshotReader.read(spark, path)
        graft.pipeline.Similarity.knnJoin(ds,
            org.apache.spark.sql.functions.col(str(r, 1)),
            org.apache.spark.sql.functions.col(str(r, 2)),
            k = r.getInt(3), nlist = r.getInt(4), nprobe = r.getInt(5))
          .write.mode("overwrite").parquet(outDir)
        val edges = spark.read.parquet(outDir)
        val mutual = graft.pipeline.Similarity.mutualKnnEdges(edges).count()
        Seq(row(Long.box(edges.count()), Long.box(mutual), outDir))
      },

      proc("knn_graph_pq",
        "compressed-domain kNN graph: both sides of the IVF cell join " +
          "carry PQ codes (SDC scoring), never vectors; rerank = 0 is " +
          "the graph-build mode (no vector ever shuffles, SDC cosine " +
          "estimates), rerank > 0 fetches candidate vectors by id for " +
          "exact-cosine verdicts. Edges land under " +
          "<table>/.knn_graph_pq/ (query_id, corpus_id, rank, " +
          "cosine_micro); this result is the summary",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT vector id column"),
          in("vec_col", StringType, "ARRAY<FLOAT> embedding column"),
          in("dim", IntegerType, "embedding dimension"),
          in("k", IntegerType, "neighbors per vector", default = Some("3")),
          in("nlist", IntegerType, "IVF cells", default = Some("8")),
          in("nprobe", IntegerType,
            "cells probed per query (= nlist for exhaustive)",
            default = Some("2")),
          in("m", IntegerType, "PQ subspaces", default = Some("8")),
          in("rerank", IntegerType,
            "exact-cosine candidates per query (0 = SDC-only)",
            default = Some("0")),
          in("opq_iters", IntegerType,
            "OPQ alternation rounds (0 = plain PQ codebooks)",
            default = Some("0"))),
        out("n_edges" -> LongType, "mutual_edges" -> LongType,
          "out_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val outDir = s"$path/.knn_graph_pq"
        val ds = graft.read.SnapshotReader.read(spark, path)
        graft.pipeline.Similarity.knnJoinPq(ds,
            org.apache.spark.sql.functions.col(str(r, 1)),
            org.apache.spark.sql.functions.col(str(r, 2)),
            k = r.getInt(4), nlist = r.getInt(5), nprobe = r.getInt(6),
            dim = r.getInt(3), m = r.getInt(7), rerank = r.getInt(8),
            opqIters = r.getInt(9))
          .write.mode("overwrite").parquet(outDir)
        val edges = spark.read.parquet(outDir)
        val mutual = graft.pipeline.Similarity.mutualKnnEdges(edges).count()
        Seq(row(Long.box(edges.count()), Long.box(mutual), outDir))
      },

      proc("bpe_tokens",
        "self-contained BPE: train num_merges merges from the table's " +
          "own word-type counts (distributed count + TakeOrdered head, " +
          "driver merge loop), then tokenize every document with the " +
          "native in-row expression. Per-doc model-token counts land " +
          "under <table>/.bpe_tokens/ (id, n_tokens); this result is " +
          "the summary",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("num_merges", IntegerType, "merges to learn",
            default = Some("64")),
          in("max_types", IntegerType,
            "word-type table cap (driver memory bound)",
            default = Some("1048576"))),
        out("n_docs" -> LongType, "total_tokens" -> LongType,
          "n_merges" -> LongType, "out_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val outDir = s"$path/.bpe_tokens"
        val docs = graft.read.SnapshotReader.read(spark, path)
        val textCol = org.apache.spark.sql.functions.col(str(r, 2))
        val merges = graft.pipeline.Bpe.trainMerges(docs, textCol,
          numMerges = r.getInt(3), maxTypes = r.getInt(4))
        docs.select(
            org.apache.spark.sql.functions.col(str(r, 1)).as("id"),
            graft.pipeline.Bpe.tokenCount(textCol, merges)
              .cast("long").as("n_tokens"))
          .write.mode("overwrite").parquet(outDir)
        val st = spark.read.parquet(outDir).selectExpr("count(*)",
          "coalesce(sum(n_tokens), 0)").head()
        Seq(row(Long.box(st.getLong(0)), Long.box(st.getLong(1)),
          Long.box(merges.size.toLong), outDir))
      },

      proc("lm_coverage",
        "CCNet-style LM quality scores: per-doc permille of word bigrams " +
          "present in the reference slice's bigram table (rows matching " +
          "ref_predicate, bigram count >= min_count). Scores are " +
          "data-sized, so they land under <table>/.lm_coverage/ (doc_id, " +
          "n_bigrams, known_bigrams, lm_coverage_permille) and this " +
          "result is the summary",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("ref_predicate", StringType,
            "SQL boolean expression selecting the reference rows, " +
              "e.g. \"source = 'src0'\""),
          in("min_count", IntegerType,
            "reference occurrences for a bigram to count as known",
            default = Some("2"))),
        out("n_docs" -> LongType, "mean_coverage_permille" -> LongType,
          "out_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val outDir = s"$path/.lm_coverage"
        val docs = graft.read.SnapshotReader.read(spark, path)
        val lm = graft.pipeline.TextAnalysis.bigramLm(
          docs.filter(org.apache.spark.sql.functions.expr(str(r, 3))),
          org.apache.spark.sql.functions.col(str(r, 2)),
          minCount = r.getInt(4).toLong)
        graft.pipeline.TextAnalysis.bigramCoverage(docs,
            org.apache.spark.sql.functions.col(str(r, 1)),
            org.apache.spark.sql.functions.col(str(r, 2)), lm)
          .write.mode("overwrite").parquet(outDir)
        val st = spark.read.parquet(outDir).selectExpr("count(*)",
          "coalesce(CAST(floor(avg(lm_coverage_permille)) AS BIGINT), 0)")
          .head()
        Seq(row(Long.box(st.getLong(0)), Long.box(st.getLong(1)), outDir))
      },

      proc("rep_filters",
        "Gopher repetition filters (Rae et al. 2021 A1.1): per-doc " +
          "top-n-gram fraction for each order in `orders` plus " +
          "duplicated-`dup_n`-gram position coverage (overlaps counted " +
          "once). Data-sized scores land under <table>/.rep_filters/ " +
          "(topgram: doc_id, n, n_tokens, top_cnt, permille; dupcov: " +
          "doc_id, n_tokens, covered_tokens, permille); this result is " +
          "the summary",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("orders", StringType,
            "comma-separated top-gram orders", default = Some("'2,3,4'")),
          in("dup_n", IntegerType,
            "duplicated-gram coverage order", default = Some("5"))),
        out("n_docs" -> LongType, "max_topgram_permille" -> LongType,
          "max_dupcov_permille" -> LongType, "out_path" -> StringType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val outDir = s"$path/.rep_filters"
        val docs = graft.read.SnapshotReader.read(spark, path)
        val idc = org.apache.spark.sql.functions.col(str(r, 1))
        val txt = org.apache.spark.sql.functions.col(str(r, 2))
        val orders = str(r, 3).split(",").map(_.trim.toInt).toSeq
        graft.pipeline.TextAnalysis
          .topNgramFraction(docs, idc, txt, orders)
          .write.mode("overwrite").parquet(s"$outDir/topgram")
        graft.pipeline.TextAnalysis
          .dupNgramCoverage(docs, idc, txt, r.getInt(4))
          .write.mode("overwrite").parquet(s"$outDir/dupcov")
        val tg = spark.read.parquet(s"$outDir/topgram")
          .selectExpr("coalesce(max(permille), 0)").head().getLong(0)
        val dc = spark.read.parquet(s"$outDir/dupcov")
          .selectExpr("count(*)", "coalesce(max(permille), 0)").head()
        Seq(row(Long.box(dc.getLong(0)), Long.box(tg),
          Long.box(dc.getLong(1)), outDir))
      },

      proc("gopher_keep",
        "composed Gopher repetition KEEP step (Rae et al. 2021 A1): " +
          "drop documents whose top-n-gram fraction (n in 2..4) or " +
          "duplicated-n-gram position coverage (n in 5..10) exceeds " +
          "the paper's permille thresholds (200/180/160 and " +
          "150/140/130/120/110/100); kept doc ids land under " +
          "<table>/.gopher_keep/",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column")),
        out("n_docs" -> LongType, "n_kept" -> LongType,
          "out_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val outDir = s"$path/.gopher_keep"
        val docs = graft.read.SnapshotReader.read(spark, path)
        val fx = org.apache.spark.sql.functions
        graft.pipeline.TextAnalysis.gopherKeep(docs,
            fx.col(str(r, 1)), fx.col(str(r, 2)))
          .write.mode("overwrite").parquet(outDir)
        Seq(row(Long.box(docs.count()),
          Long.box(spark.read.parquet(outDir).count()), outDir))
      },

      proc("seg_dedup",
        "corpus-wide duplicated-segment removal (RefinedWeb-style line " +
          "dedup over fixed-width token windows): occurrences of a " +
          "segment repeating >= min_dup times corpus-wide are dropped " +
          "(keep_first retains the canonical first), documents " +
          "reassembled in order. Cleaned docs (doc_id, text_dedup, " +
          "segs_total, segs_removed) land under <table>/.seg_dedup/; " +
          "this result is the summary",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("width", IntegerType, "segment width in tokens",
            default = Some("5")),
          in("min_dup", IntegerType,
            "corpus-wide occurrences for a segment to count duplicated",
            default = Some("2")),
          in("keep_first", BooleanType,
            "retain the canonical first occurrence",
            default = Some("true")),
          in("delim", StringType,
            "segment delimiter — empty for fixed-width token windows, " +
              "e.g. chr(10) for literal line dedup (width is then " +
              "ignored; exact substrings, re-joined verbatim)",
            default = Some("''"))),
        out("n_docs" -> LongType, "segs_total" -> LongType,
          "segs_removed" -> LongType, "out_path" -> StringType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val outDir = s"$path/.seg_dedup"
        val docs = graft.read.SnapshotReader.read(spark, path)
        graft.pipeline.Dedup.segmentDedup(docs,
            org.apache.spark.sql.functions.col(str(r, 1)),
            org.apache.spark.sql.functions.col(str(r, 2)),
            width = r.getInt(3), minDupCount = r.getInt(4),
            keepFirst = r.getBoolean(5),
            delim = Option(str(r, 6)).filter(_.nonEmpty))
          .write.mode("overwrite").parquet(outDir)
        val st = spark.read.parquet(outDir).selectExpr("count(*)",
          "coalesce(sum(segs_total), 0)", "coalesce(sum(segs_removed), 0)")
          .head()
        Seq(row(Long.box(st.getLong(0)), Long.box(st.getLong(1)),
          Long.box(st.getLong(2)), outDir))
      },

      proc("seg_ingest",
        "arrival-order INCREMENTAL segment dedup: the batch a predicate " +
          "selects is cleaned against everything seen up to and " +
          "INCLUDING itself, and the maintained segment-count index " +
          "under <table>/.seg_index/ commits docs + counts in one " +
          "transaction. The unit parameters (width/delim/min_dup/" +
          "keep_first) are RECORDED at bootstrap and ENFORCED on every " +
          "later batch — a drifting caller refuses loudly. Each doc id " +
          "must arrive at most once (enforced)",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("batch_predicate", StringType,
            "SQL boolean expression selecting THIS batch's NEW rows, " +
              "e.g. \"doc_id % 3 = 0\""),
          in("width", IntegerType, "segment width in tokens",
            default = Some("5")),
          in("min_dup", IntegerType,
            "cumulative occurrences for a segment to count duplicated",
            default = Some("2")),
          in("keep_first", BooleanType,
            "retain the arrival-first occurrence", default = Some("true")),
          in("delim", StringType,
            "segment delimiter — empty for fixed-width token windows, " +
              "e.g. chr(10) for literal line dedup",
            default = Some("''"))),
        out("n_docs" -> LongType, "segs_removed" -> LongType,
          "index_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val dir = s"$path/.seg_index"
        val fx = org.apache.spark.sql.functions
        val batch = graft.read.SnapshotReader.read(spark, path)
          .filter(fx.expr(str(r, 3)))
        val cleaned = graft.pipeline.Dedup.segIngest(spark, dir, batch,
          fx.col(str(r, 1)), fx.col(str(r, 2)), width = r.getInt(4),
          minDupCount = r.getInt(5), keepFirst = r.getBoolean(6),
          delim = Option(str(r, 7)).filter(_.nonEmpty))
        val st = cleaned.agg(fx.count(fx.lit(1)),
          fx.coalesce(fx.sum("segs_removed"), fx.lit(0L))).head()
        Seq(row(Long.box(st.getLong(0)), Long.box(st.getLong(1)), dir))
      },

      proc("substr_ingest",
        "arrival-order INCREMENTAL ExactSubstr dedup: the batch a " +
          "predicate selects is cleaned against every window seen up " +
          "to and INCLUDING itself, and the maintained window-count " +
          "index under <table>/.substr_index/ commits docs + counts in " +
          "one transaction. The unit parameters (w/min_dup) are " +
          "RECORDED at bootstrap and ENFORCED on every later batch. " +
          "Each doc id must arrive at most once (enforced)",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("batch_predicate", StringType,
            "SQL boolean expression selecting THIS batch's NEW rows"),
          in("w", IntegerType, "window width in tokens",
            default = Some("8")),
          in("min_dup", IntegerType,
            "cumulative occurrences for a window to count duplicated",
            default = Some("2"))),
        out("n_docs" -> LongType, "removed_tokens" -> LongType,
          "index_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val dir = s"$path/.substr_index"
        val fx = org.apache.spark.sql.functions
        val batch = graft.read.SnapshotReader.read(spark, path)
          .filter(fx.expr(str(r, 3)))
        val cleaned = graft.pipeline.Dedup.substrIngest(spark, dir,
          batch, fx.col(str(r, 1)), fx.col(str(r, 2)), w = r.getInt(4),
          minDupCount = r.getInt(5))
        val st = cleaned.agg(fx.count(fx.lit(1)),
          fx.coalesce(fx.sum("removed_tokens"), fx.lit(0L))).head()
        Seq(row(Long.box(st.getLong(0)), Long.box(st.getLong(1)), dir))
      },

      proc("seg_delete",
        "TAKEDOWN for the maintained segment index: subtract the " +
          "selected docs' segment counts (recomputed from their text — " +
          "the rows AS INGESTED), delete zeroed index rows and the " +
          "docs rows in one transaction. The keep-first keeper is NOT " +
          "re-elected (taken-down content stays suppressed while its " +
          "segments remain duplicated); fully-zeroed segments re-open. " +
          "Unknown ids, drifted text (count underflow) and drifted " +
          "unit parameters refuse loudly before any commit",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("delete_predicate", StringType,
            "SQL boolean expression selecting the rows to remove " +
              "(evaluated against the table snapshot)"),
          in("width", IntegerType, "segment width in tokens (must " +
            "match the persisted ingest contract)", default = Some("5")),
          in("delim", StringType,
            "segment delimiter — empty for fixed-width token windows",
            default = Some("''"))),
        out("n_docs_removed" -> LongType, "index_path" -> StringType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val dir = s"$path/.seg_index"
        val fx = org.apache.spark.sql.functions
        val batch = graft.read.SnapshotReader.read(spark, path)
          .filter(fx.expr(str(r, 3)))
        val n = graft.pipeline.Dedup.segDelete(spark, dir, batch,
          fx.col(str(r, 1)), fx.col(str(r, 2)), width = r.getInt(4),
          delim = Option(str(r, 5)).filter(_.nonEmpty))
        Seq(row(Long.box(n), dir))
      },

      proc("substr_delete",
        "TAKEDOWN for the maintained window index — the ExactSubstr " +
          "twin of seg_delete: subtract the selected docs' window " +
          "counts, drop zeroed rows + docs rows in one transaction; " +
          "unknown ids / drifted text / drifted w refuse loudly",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("delete_predicate", StringType,
            "SQL boolean expression selecting the rows to remove"),
          in("w", IntegerType, "window width in tokens (must match " +
            "the persisted ingest contract)", default = Some("8"))),
        out("n_docs_removed" -> LongType, "index_path" -> StringType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val dir = s"$path/.substr_index"
        val fx = org.apache.spark.sql.functions
        val batch = graft.read.SnapshotReader.read(spark, path)
          .filter(fx.expr(str(r, 3)))
        val n = graft.pipeline.Dedup.substrDelete(spark, dir, batch,
          fx.col(str(r, 1)), fx.col(str(r, 2)), w = r.getInt(4))
        Seq(row(Long.box(n), dir))
      },

      proc("bm25_ingest",
        "add documents to the table's MAINTAINED BM25 index under " +
          "<table>/.bm25_inc (creates it on first call): postings + " +
          "doc lengths land as one transaction, the df/stats views " +
          "refresh churn-bounded. This is the incremental twin of " +
          "text_index_build (whose bulk .text_index is rebuilt by " +
          "re-CALLing it — that IS its takedown path); bm25_remove is " +
          "the doc-removal verb here",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("batch_predicate", StringType,
            "SQL boolean expression selecting THIS batch's NEW rows")),
        out("index_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val dir = s"$path/.bm25_inc"
        val fx = org.apache.spark.sql.functions
        val batch = graft.read.SnapshotReader.read(spark, path)
          .filter(fx.expr(str(r, 3)))
        graft.pipeline.TextRetrieval.incIngest(spark, dir, batch,
          fx.col(str(r, 1)), fx.col(str(r, 2)))
        Seq(row(dir))
      },

      proc("bm25_remove",
        "TAKEDOWN for the maintained BM25 index: delete the selected " +
          "docs' postings and length rows (keys recomputed from their " +
          "text — the rows AS INGESTED) in one transaction, then " +
          "refresh the df/stats views — scores re-normalize to the " +
          "shrunken corpus immediately",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("text_col", StringType, "text column"),
          in("delete_predicate", StringType,
            "SQL boolean expression selecting the rows to remove")),
        out("index_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val dir = s"$path/.bm25_inc"
        val fx = org.apache.spark.sql.functions
        val batch = graft.read.SnapshotReader.read(spark, path)
          .filter(fx.expr(str(r, 3)))
        graft.pipeline.TextRetrieval.incRemove(spark, dir, batch,
          fx.col(str(r, 1)), fx.col(str(r, 2)))
        Seq(row(dir))
      },

      proc("bm25_search",
        "exact BM25 top-k over the MAINTAINED index (.bm25_inc): " +
          "partition-pruned postings reads for the query terms, df and " +
          "corpus stats from the maintained views",
        Seq(tableParam,
          in("query", StringType, "space-separated query terms"),
          in("k", IntegerType, "results", default = Some("10"))),
        out("doc_id" -> LongType, "score" -> LongType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val terms = str(r, 1).toLowerCase.split("\\s+")
          .filter(_.nonEmpty).toSeq
        graft.pipeline.TextRetrieval.incExactTopK(spark,
            s"$path/.bm25_inc", terms, k = r.getInt(2))
          .collect().toSeq // k-bounded
          .map(x => row(Long.box(x.getLong(0)), Long.box(x.getLong(1))))
      },

      proc("index_status",
        "cross-sidecar drift detection: one row per sidecar index " +
          "under the table (.ann / .seg_index / .substr_index / " +
          ".bm25_inc / .text_index / .quality_model), comparing the " +
          "covers against the table's CURRENT live row count — " +
          "metadata-only (footer sums, maintained views, key-pruned " +
          "counts; no text or vector data is read). stale = the table " +
          "moved (inserts or deletes) without the matching index " +
          "maintenance verb; the detail column names the catch-up verb",
        Seq(tableParam),
        out("index" -> StringType, "covered_rows" -> LongType,
          "table_rows" -> LongType, "stale" -> BooleanType,
          "detail" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sessionState.newHadoopConf())
        def has(n: String) =
          fs.exists(new org.apache.hadoop.fs.Path(s"$path/$n"))
        val tableRows =
          graft.read.SnapshotReader.read(spark, path).count()
        val sim = graft.pipeline.Similarity
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        def emit(name: String, covered: Long, verb: String): Unit =
          out += row(name, Long.box(covered), Long.box(tableRows),
            Boolean.box(covered != tableRows),
            if (covered == tableRows) "in sync"
            else s"catch up via $verb")
        if (has(".ann")) {
          val root = sim.annRoot(spark, s"$path/.ann")
          val stored = sim.annDataRootsOf(spark, root).map { rt =>
            val p = new org.apache.hadoop.fs.Path(rt)
            val hasCells = fs.exists(p) && fs.listStatus(p)
              .exists(s => s.isDirectory &&
                s.getPath.getName.startsWith("__cluster="))
            if (!hasCells) 0L else spark.read.parquet(rt).count()
          }.sum
          val tomb = sim.annTombstonesOf(spark, root)
            .map(_.count()).getOrElse(0L)
          emit(".ann", stored - tomb, "CALL ann_ingest / ann_delete")
        }
        def docsCovered(idx: String): Long =
          graft.read.SnapshotReader.read(spark, s"$path/$idx/docs")
            .count()
        if (has(".seg_index"))
          emit(".seg_index", docsCovered(".seg_index"),
            "CALL seg_ingest / seg_delete")
        if (has(".substr_index"))
          emit(".substr_index", docsCovered(".substr_index"),
            "CALL substr_ingest / substr_delete")
        if (has(".bm25_inc")) {
          val n = graft.views.MaterializedAgg.read(spark,
              s"$path/.bm25_inc/statsv")
            .select(org.apache.spark.sql.functions.col("n_rows"))
            .collect().headOption.map(_.getLong(0)).getOrElse(0L)
          emit(".bm25_inc", n, "CALL bm25_ingest / bm25_remove")
        }
        if (has(".text_index")) {
          val n = spark.read.parquet(s"$path/.text_index/stats")
            .head().getLong(0)
          emit(".text_index", n, "CALL text_index_build (bulk rebuild)")
        }
        if (has(".quality_model")) {
          val n = spark.read
            .parquet(s"$path/.quality_model/scores").count()
          emit(".quality_model", n, "CALL quality_model / quality_score")
        }
        out.toSeq
      },

      proc("ann_index_build",
        "build a compressed vector-search index (IVF<nlist>,PQ<m>; " +
          "variant pq | opq | pca) over a table's embedding column " +
          "under <table>/.ann — cell-partitioned codes+vectors plus " +
          "metadata sidecars; ann_search serves from it",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT row id column"),
          in("vec_col", StringType, "ARRAY<FLOAT> embedding column"),
          in("dim", IntegerType, "embedding dimensionality"),
          in("nlist", IntegerType, "IVF cells", default = Some("8")),
          in("m", IntegerType, "PQ subspaces", default = Some("8")),
          in("ksub", IntegerType, "codes per subspace",
            default = Some("16")),
          in("variant", StringType, "pq | opq | pca",
            default = Some("'pq'")),
          in("rank", IntegerType, "PCA rank (variant = pca only)",
            default = Some("0")),
          in("train_fraction", DoubleType,
            "hash-sample fraction for codebook/centroid training",
            default = Some("1.0"))),
        out("cells" -> IntegerType, "rotated_dim" -> IntegerType,
          "index_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val dir = s"$path/.ann"
        val rows = graft.read.SnapshotReader.read(spark, path)
        val fx = org.apache.spark.sql.functions
        val (cells, rdim) = graft.pipeline.Similarity.annIndexBuild(
          rows, fx.col(str(r, 1)), fx.col(str(r, 2)), dir,
          dim = r.getInt(3), nlist = r.getInt(4), m = r.getInt(5),
          ksub = r.getInt(6), trainFraction = r.getDouble(9),
          variant = str(r, 7), rank = r.getInt(8))
        Seq(row(Int.box(cells), Int.box(rdim), dir))
      },

      proc("ann_search",
        "top-k cosine neighbors from the table's .ann index for the " +
          "query rows a predicate selects (ADC candidates over the " +
          "probed cells only, exact-cosine rerank; result is " +
          "queries x k bounded — keep the predicate selective)",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT row id column"),
          in("vec_col", StringType, "ARRAY<FLOAT> embedding column"),
          in("query_predicate", StringType,
            "SQL boolean expression selecting the query rows, " +
              "e.g. \"vec_id < 10\""),
          in("k", IntegerType, "neighbors per query",
            default = Some("5")),
          in("nprobe", IntegerType, "IVF cells probed per query",
            default = Some("2")),
          in("rerank", IntegerType,
            "ADC candidates re-scored by exact cosine",
            default = Some("50"))),
        out("query_id" -> LongType, "corpus_id" -> LongType,
          "rank" -> IntegerType, "cosine_micro" -> LongType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val fx = org.apache.spark.sql.functions
        val queries = graft.read.SnapshotReader.read(spark, path)
          .filter(fx.expr(str(r, 3)))
        // the "queries × k bounded" result contract (and the broadcast
        // of the query side inside the probe) holds only for a SELECTIVE
        // predicate — refuse corpus-sized query sets loudly instead of
        // collecting corpus × k rows to the driver
        val MaxQueries = 10000L
        val nQueries = queries.limit((MaxQueries + 1).toInt).count()
        require(nQueries <= MaxQueries,
          s"ann_search: query_predicate selected more than $MaxQueries " +
            "rows — narrow it (bulk all-pairs search is knnJoin's job, " +
            "not a CALL that collects to the driver)")
        graft.pipeline.Similarity.annTopK(spark, s"$path/.ann",
            queries, fx.col(str(r, 1)), fx.col(str(r, 2)),
            k = r.getInt(4), nprobe = r.getInt(5), rerank = r.getInt(6))
          .collect().toSeq // queries × k bounded
          .map(x => row(Long.box(x.getLong(0)), Long.box(x.getLong(1)),
            Int.box(x.getInt(2)), Long.box(x.getLong(3))))
      },

      proc("ann_ingest",
        "incrementally append rows into the table's .ann index: the " +
          "batch a predicate selects is transformed with the persisted " +
          "rotation (opq | pca; identity for pq), PQ-encoded against " +
          "the frozen centroids/codebooks, staged under its batch_id " +
          "and committed by one atomic ledger append — visible-or-" +
          "absent, and a replayed batch_id refuses instead of serving " +
          "its vectors twice. No retrain, cost tracks the batch; " +
          "ann_search over the grown index serves every added row",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT row id column"),
          in("vec_col", StringType, "ARRAY<FLOAT> embedding column"),
          in("batch_predicate", StringType,
            "SQL boolean expression selecting the NEW rows to add, " +
              "e.g. \"vec_id >= 4000\" — rows already indexed must not " +
              "re-match (a re-added id would serve twice; the ledger " +
              "guards the BATCH id, not row ids)"),
          in("batch_id", StringType,
            "caller-chosen idempotency token ([A-Za-z0-9._-]+) naming " +
              "this batch's ledger entry; re-CALLing with the same id " +
              "refuses")),
        out("n_ingested" -> LongType, "index_path" -> StringType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val fx = org.apache.spark.sql.functions
        val batch = graft.read.SnapshotReader.read(spark, path)
          .filter(fx.expr(str(r, 3)))
        val n = graft.pipeline.Similarity.annIngest(spark, s"$path/.ann",
          batch, fx.col(str(r, 1)), fx.col(str(r, 2)),
          batchId = str(r, 4))
        Seq(row(Long.box(n), s"$path/.ann"))
      },

      proc("ann_rebuild",
        "retrain the table's .ann index over its GROWN corpus (build " +
          "data + every ledgered ingest batch, read from the index " +
          "itself — the source table is not needed): same variant and " +
          "shape, fresh centroids/codebooks/rotation, written as a new " +
          "generation and committed by one atomic marker — readers " +
          "switch atomically, a crashed rebuild leaves the old index " +
          "serving, and prior batch ids stay refused. Run it when the " +
          "ingested-since-build fraction is large enough that the " +
          "measured recall drift matters (RECALL prices it)",
        Seq(tableParam,
          in("train_fraction", DoubleType,
            "hash-sample fraction for centroid/codebook retraining",
            default = Some("1.0"))),
        out("generation_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val gen = graft.pipeline.Similarity.annRebuild(spark,
          s"$path/.ann", trainFraction = r.getDouble(1))
        Seq(row(gen))
      },

      proc("ann_delete",
        "DELETE rows from the table's .ann index — the takedown verb: " +
          "the ids a predicate selects over the table are committed as " +
          "a ledgered tombstone set (visible-or-absent, one atomic " +
          "ledger create); from then on ann_search anti-joins them " +
          "before candidate ranking, and the next ann_rebuild excludes " +
          "them PHYSICALLY from the retrained generation. A replayed " +
          "delete_id refuses loudly (takedown replay must be " +
          "detectable); re-deleting already-tombstoned rows under a " +
          "NEW id is a harmless set union",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT row id column"),
          in("delete_predicate", StringType,
            "SQL boolean expression selecting the rows to remove, " +
              "e.g. \"vec_id % 7 = 0\" — evaluated against the TABLE " +
              "snapshot (delete rows from the table first or together; " +
              "the tombstone takes ids, not vectors)"),
          in("delete_id", StringType,
            "caller-chosen idempotency token ([A-Za-z0-9._-]+) naming " +
              "this set's tombledger entry; re-CALLing with the same " +
              "id refuses")),
        out("n_tombstoned" -> LongType, "index_path" -> StringType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val fx = org.apache.spark.sql.functions
        val ids = graft.read.SnapshotReader.read(spark, path)
          .filter(fx.expr(str(r, 2)))
        val n = graft.pipeline.Similarity.annDelete(spark, s"$path/.ann",
          ids, fx.col(str(r, 1)), deleteId = str(r, 3))
        Seq(row(Long.box(n), s"$path/.ann"))
      },

      proc("ann_clean",
        "reclaim a rebuilt .ann index's dead state, with a retention " +
          "window for in-flight readers: the newest keep_generations " +
          "generations (the top-level build counts as the oldest) " +
          "survive; committed generations older than the window, " +
          "crashed OLD rebuilds' partials, and (once aged out) the " +
          "folded top-level pieces are deleted. An uncommitted NEWER " +
          "generation is never touched (it may be a rebuild in " +
          "flight). keep_generations = 2 (default) lets a reader that " +
          "resolved the previous generation finish across a " +
          "concurrent clean; 1 reclaims eagerly (caller asserts no " +
          "concurrent readers — the table-clean contract)",
        Seq(tableParam,
          in("keep_generations", IntegerType,
            "newest generations retained (>= 1)",
            default = Some("2"))),
        out("deleted_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        graft.pipeline.Similarity.annClean(spark, s"$path/.ann",
            keepGenerations = r.getInt(1))
          .map(row(_))
      },

      proc("ann_stats",
        "operational state of the table's .ann index: the serving " +
          "generation, its variant, one row per data root (the build " +
          "plus each LEDGERED ingest batch; kind 'build' | 'ingest') " +
          "with its footer row count, plus one 'tombstones' row when " +
          "deletes are pending. Every row also carries the index-wide " +
          "ingested_fraction (ingested rows / total stored rows), " +
          "tombstoned_fraction, and rebuild_recommended — the " +
          "documented fold-the-drift policy (rebuild when either " +
          "fraction crosses rebuild_threshold). Staged-but-uncommitted " +
          "dirs are invisible here exactly as they are to ann_search",
        Seq(tableParam,
          in("rebuild_threshold", DoubleType,
            "ingested/tombstoned fraction above which " +
              "rebuild_recommended flips true (policy: 0.1-0.3)",
            default = Some("0.1"))),
        out("generation" -> StringType, "variant" -> StringType,
          "root" -> StringType, "n_rows" -> LongType,
          "kind" -> StringType, "ingested_fraction" -> DoubleType,
          "tombstoned_fraction" -> DoubleType,
          "rebuild_recommended" -> BooleanType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val threshold = r.getDouble(1)
        val dir = s"$path/.ann"
        val sim = graft.pipeline.Similarity
        val root = sim.annRoot(spark, dir)
        val variant = spark.read.parquet(s"$root/meta").head().getString(0)
        val gen = if (root == dir) "build" else
          root.substring(root.lastIndexOf('/') + 1)
        def footerCount(rt: String): Long = {
          val p = new org.apache.hadoop.fs.Path(rt)
          val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
          // a zero-row ingest batch has a ledger entry and an empty
          // staged dir (no cell children) — report 0 without a read
          val hasCells = fs.exists(p) && fs.listStatus(p)
            .exists(s => s.isDirectory &&
              s.getPath.getName.startsWith("__cluster="))
          if (!hasCells) 0L
          else spark.read.parquet(rt).count() // footer-count fold
        }
        val dataRoots = sim.annDataRootsOf(spark, root)
          .map(rt => (rt, footerCount(rt),
            if (rt.endsWith("/data")) "build" else "ingest"))
        val nTomb = sim.annTombstonesOf(spark, root)
          .map(_.count()).getOrElse(0L)
        val total = dataRoots.map(_._2).sum
        val ingested = dataRoots.filter(_._3 == "ingest").map(_._2).sum
        val ingestedFrac =
          if (total == 0) 0.0 else ingested.toDouble / total
        val tombFrac =
          if (total == 0) 0.0 else nTomb.toDouble / total
        val recommend =
          ingestedFrac >= threshold || tombFrac >= threshold
        val dataRows = dataRoots.map { case (rt, n, kind) =>
          row(gen, variant, rt, Long.box(n), kind,
            Double.box(ingestedFrac), Double.box(tombFrac),
            Boolean.box(recommend))
        }
        val tombRows =
          if (nTomb == 0) Seq.empty
          else Seq(row(gen, variant, s"$root/tombstones",
            Long.box(nTomb), "tombstones", Double.box(ingestedFrac),
            Double.box(tombFrac), Boolean.box(recommend)))
        dataRows ++ tombRows
      },

      proc("quality_model",
        "train a linear quality scorer (closed-form ridge from one " +
          "moment job) on integer feature expressions and score the " +
          "whole corpus with the integer-quantized weights. Scores " +
          "(id, score_q BIGINT) land under <table>/.quality_model/" +
          "scores/; the FROZEN model (kind, feature expressions, " +
          "weights, quantized weights) persists as a one-row sidecar " +
          "under <table>/.quality_model/model/ — quality_score replays " +
          "it on any other table. This result is the summary incl. the " +
          "quantized weights (intercept first, scale 1e6)",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("features", StringType,
            "';'-separated integer SQL expressions (';' because " +
              "expressions may contain commas; note backslashes " +
              "unescape TWICE — the CALL literal, then expr(). The " +
              "split is not quote-aware: a ';' INSIDE a string literal " +
              "also splits, so keep ';' out of feature expressions)"),
          in("label", StringType, "numeric SQL expression to regress on"),
          in("lambda", DoubleType, "ridge penalty (intercept exempt)",
            default = Some("0.001"))),
        out("n_docs" -> LongType, "qweights" -> StringType,
          "out_path" -> StringType)) { (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val outDir = s"$path/.quality_model/scores"
        // r14 wrote scores DIRECTLY under .quality_model/; the r15 layout
        // split (scores/ + model/) overwrites only the subdirs, so a
        // table that ran the old procedure keeps its stale top-level
        // parquet files — a mixed directory that breaks direct readers
        // of the old path. Clear legacy FILES (never the subdirs) before
        // writing, per the FORMAT.md migration note.
        locally {
          val mdlDir = new org.apache.hadoop.fs.Path(s"$path/.quality_model")
          val fs = mdlDir.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(mdlDir))
            fs.listStatus(mdlDir).filter(_.isFile)
              .foreach(f => fs.delete(f.getPath, false))
        }
        val docs = graft.read.SnapshotReader.read(spark, path)
        val fx = org.apache.spark.sql.functions
        val featSql = str(r, 2).split(";").map(_.trim).toSeq
        val feats = featSql.map(e => fx.expr(e))
        val m = graft.pipeline.Models.ridgeFit(docs, feats,
          fx.expr(str(r, 3)), lambda = r.getDouble(4))
        // the frozen model travels as its OWN sidecar: the exact feature
        // strings the user supplied plus the quantized weights — what
        // quality_score replays on a different table, another session
        graft.pipeline.Models.save(spark, s"$path/.quality_model/model",
          "ridge", featSql, m)
        docs.select(fx.col(str(r, 1)).cast("long").as("id"),
            graft.pipeline.Models.scoreQ(m, feats).as("score_q"))
          .write.mode("overwrite").parquet(outDir)
        val n = spark.read.parquet(outDir).count()
        Seq(row(Long.box(n), m.qweights.mkString(","), outDir))
      },

      proc("quality_score",
        "score a table with a PERSISTED quality model — the " +
          ".quality_model/model sidecar quality_model wrote, usually on " +
          "a DIFFERENT table: the frozen INTEGER weights and stored " +
          "feature expressions replay as one codegen projection (no " +
          "refit, no training-data read, scores bit-identical to the " +
          "fitting run's quantization). Scores (id, score_q BIGINT) " +
          "land under <table>/.quality_scores/",
        Seq(tableParam,
          in("id_col", StringType, "BIGINT document id column"),
          in("model_table", StringType,
            "table whose .quality_model/model sidecar holds the " +
              "frozen model (the table quality_model was CALLed on)")),
        out("n_docs" -> LongType, "kind" -> StringType,
          "qweights" -> StringType, "out_path" -> StringType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val mdl = graft.pipeline.Models.load(spark,
          s"${cat.resolveTablePath(str(r, 2))}/.quality_model/model")
        val outDir = s"$path/.quality_scores"
        val fx = org.apache.spark.sql.functions
        val feats = mdl.features.map(e => fx.expr(e))
        graft.read.SnapshotReader.read(spark, path)
          .select(fx.col(str(r, 1)).cast("long").as("id"),
            graft.pipeline.Models.scoreQ(mdl.model, feats).as("score_q"))
          .write.mode("overwrite").parquet(outDir)
        val n = spark.read.parquet(outDir).count()
        Seq(row(Long.box(n), mdl.kind, mdl.model.qweights.mkString(","),
          outDir))
      },

      proc("exact_quantiles",
        "exact distributed quantiles of a numeric column (DuckDB " +
          "quantile_disc contract: k-th smallest, k = max(1, ceil(p*n))) " +
          "by histogram refinement - no global sort, no distinct-value " +
          "buffering; one metadata-sized row per probability",
        Seq(tableParam,
          in("column", StringType, "numeric column to rank"),
          in("probs", StringType,
            "comma-separated probabilities in [0, 1]",
            default = Some("0.5"))),
        out("p_permille" -> IntegerType, "value" -> DoubleType)) {
        (cat, r) =>
        val path = cat.resolveTablePath(str(r, 0))
        val probs = csv(r, 2).map(_.toDouble)
        graft.operators.Quantiles.exactQuantiles(
            graft.read.SnapshotReader.read(spark, path),
            org.apache.spark.sql.functions.col(str(r, 1)).cast("double"),
            probs)
          .collect().toSeq // one row per prob by construction
          .map(x => row(Int.box(x.getInt(0)), Double.box(x.getDouble(1))))
      },

      proc("show_timeline",
        "the active timeline: one row per completed instant, oldest " +
          "first, with its savepoint pin state",
        Seq(tableParam),
        out("commit_ts" -> StringType, "action" -> StringType,
          "savepointed" -> BooleanType)) { (cat, r) =>
        val tl = timeline(cat.resolveTablePath(str(r, 0)))
        val pinned = tl.savepoints().toSet
        tl.completedInstants().map(i =>
          row(i.ts, i.action, Boolean.box(pinned.contains(i.ts))))
      })
  }
}

/** Metadata-sized procedure result: Spark inlines it as a LocalRelation. */
private[sources] final class GraftLocalScan(
    schema: StructType, rs: Array[InternalRow]) extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = rs
  override def description(): String = s"GraftLocalScan(${rs.length} rows)"
}
