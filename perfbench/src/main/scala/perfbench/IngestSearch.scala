package perfbench

import graft.{Graft, QueryVec, SearchParams}
import graft.graph.{GraphAlgos, GraphQueries, TpchGraph}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.util.Random

/** `ingest_search`: writes beside reads on the run's own corpus copy.
  *
  * Each round:
  *   - `sources.VectorStore`: upsert a batch of new points, append them
  *     to the IVF index, search for one of them (it must come back
  *     top-1 at cosine 1.0), retrieve a mixed id set, delete a few
  *     earlier points and verify they never return;
  *   - corpus appends: new documents with their embeddings through
  *     `Graft.add` (dedup-on-add must drop the re-sent duplicate; the
  *     new doc must rank first in CHUNKS), and a new order with its
  *     lineitems (it must be found by `Graft.searchCypher` — this
  *     changes the graph tables' stamps and forces the `TpchGraph`
  *     projection to rebuild);
  *   - graph reads on the rebuilt projection: `GraphAlgos.kHop` and a
  *     two-superstep `GraphAlgos.personalizedPageRankGraphX` out of the
  *     new order, and `GraphQueries.components` of the
  *     supplier–nation–region subgraph (its cache is stamped by the
  *     graph tables, so the append rebuilds it too);
  *   - interleaved `Graft.search` reads.
  *
  * Every write is followed by its verifying read; the time from the
  * write's start to that read's end is one read-your-writes sample. */
object IngestSearch extends Workload {
  val name = "ingest_search"
  val Collection = "points"
  val Batch = 50
  val Dim = 64
  /** Raw bytes of one live point: id (8) + 64 float32 (256) + label (4). */
  val PointBytes = 8 + 4 * Dim + 4
  /** Supersteps of the personalized PageRank out of each new order. */
  val PprIters = 2

  final class Plan(seed: Long, ctx: Ctx) extends WorkloadPlan {
    private val r = new Random(seed)
    private val root = s"${ctx.work}/vstore"
    private def vs(c: Ctx) = Graft.vectorStore(c.spark, root)
    /** Points the collection holds, as the benchmark wrote them. */
    private val live = mutable.LinkedHashMap.empty[Long, Array[Double]]
    ctx.vectors.toSeq.sortBy(_._1).foreach { case (id, v) => live(id) = v }
    private var nextPoint = 1000000L
    private var nextDoc = 0L
    private var nextOrder = 0L
    private var nParts, nSupp = 0L
    private var dupText = ""
    /** Region of every supplier, nation and region node: the expected
      * connected components of the supplier–nation–region subgraph. */
    private var snrRegion = Map.empty[String, Long]

    private def unit(): Array[Double] = {
      val v = Array.fill(Dim)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat.toDouble)
    }

    private def pointsDf(c: Ctx, pts: Seq[(Long, Array[Double])]): DataFrame = {
      import c.spark.implicits._
      pts.map { case (id, v) => (id, v.map(_.toFloat).toSeq, (id % 10).toInt) }
        .toDF("vec_id", "embedding", "label")
    }

    override def prepare(c: Ctx): Unit = {
      val emb = graft.Tables.load(c.spark, c.dir, "embeddings")
      vs(c).createCollection(Collection, emb)
      vs(c).createVectorIndex(Collection)
      import org.apache.spark.sql.functions.max
      nextDoc = graft.Tables.load(c.spark, c.dir, "documents").agg(max("doc_id")).head().getLong(0) + 1
      nextOrder = graft.Tables.load(c.spark, c.dir, "orders").agg(max("o_orderkey")).head().getLong(0) + 1
      nParts = graft.Tables.load(c.spark, c.dir, "part").count()
      nSupp = graft.Tables.load(c.spark, c.dir, "supplier").count()
      dupText = graft.Tables.load(c.spark, c.dir, "documents").filter(col("doc_id") === 0)
        .select("text").head().getString(0)
      def keys(t: String, a: String, b: String) = graft.Tables.load(c.spark, c.dir, t).select(a, b).collect()
        .map(x => x.getAs[Number](0).longValue -> x.getAs[Number](1).longValue).toMap
      val nationRegion = keys("nation", "n_nationkey", "n_regionkey")
      snrRegion = graft.Tables.load(c.spark, c.dir, "region").select("r_regionkey").collect()
        .map(x => s"region:${x.getAs[Number](0)}" -> x.getAs[Number](0).longValue).toMap ++
        nationRegion.map { case (n, reg) => s"nation:$n" -> reg } ++
        keys("supplier", "s_suppkey", "s_nationkey").map { case (s, n) => s"supplier:$s" -> nationRegion(n) }
    }

    override def stampSets: Seq[Seq[String]] = Seq(graft.graph.SessionDirCache.graphTables,
      graft.graph.SessionDirCache.graphTables :+ "documents", Seq("documents", "embeddings"))

    // ---- VectorStore ops

    private def upsert(g: String, pts: Seq[(Long, Array[Double])]): Op =
      Op("vs.createDataPoints", s"upsert ${pts.head._1}+${pts.size}", "VectorStore.createDataPoints",
        c => { vs(c).createDataPoints(Collection, pointsDf(c, pts)); pts.foreach(p => live(p._1) = p._2); None },
        write = true, writeGroup = Some(g))

    private def index(g: String, pts: Seq[(Long, Array[Double])]): Op =
      Op("vs.indexDataPoints", s"index ${pts.head._1}+${pts.size}", "VectorStore.indexDataPoints",
        c => { vs(c).indexDataPoints(Collection, pointsDf(c, pts)); None },
        write = true, writeGroup = Some(g))

    /** The written point must come back first, at cosine 1.0, with the
      * rest ranked by cosine; a deleted id never returns. */
    private def search(kind: String, id: Long, q: Array[Double], k: Int, visible: Option[String],
        mustFind: Boolean): Op =
      Op(kind, s"$kind $id k=$k", "VectorStore.search",
        c => Some(vs(c).search(Collection, q, k)),
        (_, rows) => {
          val ids = rows.map(_.getAs[Long]("vec_id"))
          Checks.atMost(rows, k) ++ Checks.rankedBy(rows, "cosine", "vec_id") ++
            (if (mustFind && !(ids.headOption.contains(id) && rows.head.getAs[Double]("cosine") >= 0.9999))
              Seq(s"written point $id not top-1 at cosine 1.0 (got ${ids.take(3).mkString(",")})")
            else Nil) ++
            (if (!mustFind && ids.contains(id)) Seq(s"deleted point $id returned") else Nil)
        },
        visibleOf = visible, deterministic = false)

    private def retrieve(ids: Seq[Long], expect: Set[Long], visible: Option[String]): Op =
      Op("vs.retrieve", s"retrieve ${ids.mkString(",")}", "VectorStore.retrieve",
        c => Some(vs(c).retrieve(Collection, ids)),
        (_, rows) => {
          val got = rows.map(_.getAs[Long]("vec_id")).toSet
          if (got == expect) Nil else Seq(s"retrieve returned ${got.size} ids, expected ${expect.size}")
        },
        visibleOf = visible, deterministic = false)

    private def delete(g: String, ids: Seq[Long]): Op =
      Op("vs.deleteDataPoints", s"delete ${ids.mkString(",")}", "VectorStore.deleteDataPoints",
        c => { vs(c).deleteDataPoints(Collection, ids); ids.foreach(live.remove); None },
        write = true, writeGroup = Some(g))

    // ---- corpus appends

    /** New documents (plus one re-sent existing text, which dedup-on-add
      * must drop) through Graft.add, appended with their embeddings. */
    private def addDocs(g: String, docs: Seq[(Long, String, String, Array[Double])], dupText: String): Op =
      Op("corpus.add_docs", s"add_docs ${docs.head._1}+${docs.size}", "ingest.add_docs",
        c => {
          import c.spark.implicits._
          val existing = graft.Tables.load(c.spark, c.dir, "documents")
          val incoming = (docs.map { case (id, text, src, _) => (id, text, "en", src, text.length.toLong) } :+
            ((docs.head._1 + docs.size + 1000000L, dupText, "en", "src0", dupText.length.toLong)))
            .toDF("doc_id", "text", "lang", "source", "n_chars")
          val fresh = c.t.span("Pipeline.addIncrement")(Graft.add(existing, incoming).collect())
            .sortBy(_.getAs[Long]("doc_id"))
          require(fresh.length == docs.size,
            s"dedup-on-add kept ${fresh.length} of ${docs.size + 1} docs (one is a duplicate)")
          c.spark.createDataFrame(java.util.Arrays.asList(fresh: _*), existing.schema)
            .coalesce(1).write.mode("append").parquet(s"${c.dir}/documents.parquet")
          docs.map { case (id, _, _, v) => (id, v.map(_.toFloat).toSeq, 0) }.toDF("vec_id", "embedding", "label")
            .coalesce(1).write.mode("append").parquet(s"${c.dir}/embeddings.parquet")
          docs.foreach { case (id, _, src, v) => c.vectors(id) = v; c.docSource(id) = src }
          None
        }, write = true, writeGroup = Some(g))

    private def chunksFind(g: String, id: Long, v: Array[Double]): Op = {
      val p = SearchParams(queryVec = Some(QueryVec.Lit(v.toSeq)), topK = Some(3))
      Op("search.CHUNKS", s"chunks-verify $id", "Graft.search",
        c => Some(Graft.search(c.spark, c.dir, Graft.Chunks, p)),
        (c, rows) => SearchMix.check(Graft.Chunks, p)(c, rows) ++
          (if (rows.headOption.exists(x => x.getAs[Long]("doc_id") == id && x.getAs[Double]("cosine") >= 0.9999)) Nil
          else Seq(s"new doc $id not first in CHUNKS")),
        visibleOf = Some(g), deterministic = false)
    }

    private def addOrder(g: String, key: Long, lines: Seq[(Long, Long)]): Op =
      Op("corpus.add_order", s"add_order $key", "ingest.add_order",
        c => {
          import c.spark.implicits._
          val day = java.sql.Timestamp.valueOf("2001-06-01 00:00:00").toLocalDateTime
          val orders = graft.Tables.load(c.spark, c.dir, "orders")
          Seq((key, 0L, "O", 1000.0 * lines.size, day, "3-MEDIUM"))
            .toDF(orders.columns.toIndexedSeq: _*)
            .select(orders.schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
            .coalesce(1).write.mode("append").parquet(s"${c.dir}/orders.parquet")
          val li = graft.Tables.load(c.spark, c.dir, "lineitem")
          lines.zipWithIndex.map { case ((part, supp), i) =>
            (key, part, supp, i + 1, 1.0, 1000.0, 0.0, 0.0, "N", "O", day)
          }.toDF(li.columns.toIndexedSeq: _*)
            .select(li.schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
            .coalesce(1).write.mode("append").parquet(s"${c.dir}/lineitem.parquet")
          None
        }, write = true, writeGroup = Some(g))

    private def cypherFind(g: String, key: Long, parts: Set[Long]): Op = {
      val q = s"MATCH (o:order {id: 'order:$key'})-[:contains]->(p:part) RETURN p.id AS part ORDER BY part"
      Op("search.CYPHER", s"cypher-verify $key", "Graft.searchCypher",
        c => {
          // the first projection access after the write rebuilds it (the
          // graph tables' stamps changed); searchCypher's own access hits
          c.t.span("SessionDirCache.rebuild")(TpchGraph(c.spark, c.dir))
          Some(Graft.searchCypher(c.spark, c.dir, q))
        },
        (_, rows) => {
          val got = rows.map(_.getString(0)).toSet
          val want = parts.map(p => s"part:$p")
          if (got == want) Nil else Seq(s"order $key parts ${got.take(3)} != ${want.take(3)}")
        }, visibleOf = Some(g), deterministic = false)
    }

    /** One hop out of the new order in the rebuilt projection reaches
      * each of its parts. */
    private def kHopFrom(key: Long, parts: Set[Long]): Op =
      Op("graph.khop", s"khop order:$key", "GraphAlgos.kHop",
        c => {
          import c.spark.implicits._
          Some(GraphAlgos.kHop(TpchGraph(c.spark, c.dir), Seq(s"order:$key").toDF("id"), 1))
        },
        (_, rows) => {
          val depth = rows.map(x => x.getAs[String]("id") -> x.getAs[Number]("depth").intValue).toMap
          val missing = parts.map(p => s"part:$p").filterNot(depth.get(_).contains(1))
          (if (depth.get(s"order:$key").contains(0)) Nil else Seq(s"order:$key not at depth 0")) ++
            missing.take(1).map(p => s"$p not one hop from order:$key")
        }, deterministic = false)

    /** Two supersteps of a random walk with restart at the new order:
      * the walk's mass stays within 1, the order keeps at least its
      * restart share, and each of its parts holds some of the mass. */
    private def pprFrom(key: Long, parts: Set[Long]): Op =
      Op("graph.ppr", s"ppr order:$key it=$PprIters", "GraphAlgos.personalizedPageRankGraphX",
        c => {
          import c.spark.implicits._
          Some(GraphAlgos.personalizedPageRankGraphX(TpchGraph(c.spark, c.dir), Seq(s"order:$key").toDF("id"), PprIters))
        },
        (_, rows) => {
          val rank = rows.map(x => x.getAs[String]("id") -> x.getAs[Number]("r").doubleValue).toMap
          val mass = rank.values.sum
          (if (mass > 1.0 + 1e-9) Seq(s"walk mass $mass > 1") else Nil) ++
            (if (rank.getOrElse(s"order:$key", 0.0) >= 0.15 - 1e-9) Nil else Seq(s"order:$key below its restart share")) ++
            parts.map(p => s"part:$p").filterNot(rank.contains).take(1).map(p => s"$p holds no walk mass")
        }, deterministic = false)

    /** Components of the supplier–nation–region subgraph: one per
      * region, holding exactly that region's nations and suppliers. */
    private def components: Op =
      Op("graph.components", "components snr", "GraphQueries.components",
        c => Some(GraphQueries.components(c.spark, c.dir)),
        (_, rows) => {
          val label = rows.map(x => x.getAs[String]("id") -> x.getAs[String]("component")).toMap
          val got = label.groupBy(_._2).values.map(_.keySet).toSet
          val want = snrRegion.groupBy(_._2).values.map(_.keySet).toSet
          (if (label.size != rows.length) Seq("an id labelled twice") else Nil) ++
            (if (got == want) Nil else Seq(s"${got.size} components over ${label.size} ids, " +
              s"expected ${want.size} over ${snrRegion.size} (one per region)"))
        })

    /** An interleaved search; the corpus grows, so no determinism check. */
    private def read(t: Graft.SearchType, set: Int): Op =
      SearchMix.op(t, SearchMix.params(t, set, r)).copy(deterministic = false)

    def warmup: Seq[Op] = round(0)

    def round(i: Int): Seq[Op] = {
      val batch = Seq.fill(Batch) { nextPoint += 1; (nextPoint, unit()) }
      val probe = batch(r.nextInt(Batch))
      val older = live.keys.toIndexedSeq
      val gone = r.shuffle(older.take(older.size - Batch)).take(3).sorted
      // live after the round's delete too, so a re-run of the retrieve agrees
      val mixed = (r.shuffle(older.filterNot(gone.contains)).take(3) :+ probe._1).distinct.sorted
      val docs = Seq.fill(2) {
        nextDoc += 1
        val words = Seq.fill(10 + r.nextInt(30))(SearchMix.vocab(r.nextInt(SearchMix.vocab.size)))
        (nextDoc, words.mkString(" ") + s" ingest$nextDoc", s"src${r.nextInt(20)}", unit())
      }
      nextOrder += 1
      val lines = Seq.fill(3)(((r.nextDouble() * nParts).toLong, (r.nextDouble() * nSupp).toLong))
      Seq(
        upsert(s"vs$i", batch), index(s"vs$i", batch),
        search("vs.search", probe._1, probe._2, 1 + r.nextInt(5), Some(s"vs$i"), mustFind = true),
        retrieve(mixed, mixed.toSet, None),
        delete(s"del$i", gone),
        retrieve(gone, Set.empty, Some(s"del$i")),
        search("vs.search", gone.head, live.getOrElse(gone.head, unit()), 5, None, mustFind = false),
        addDocs(s"docs$i", docs, dupText),
        chunksFind(s"docs$i", docs.head._1, docs.head._4),
        read(Graft.ChunksLexical, i % SearchMix.Sets),
        addOrder(s"order$i", nextOrder, lines),
        cypherFind(s"order$i", nextOrder, lines.map(_._1).toSet),
        kHopFrom(nextOrder, lines.map(_._1).toSet),
        pprFrom(nextOrder, lines.map(_._1).toSet),
        components,
        read(Graft.Summaries, i % SearchMix.Sets),
        read(Graft.Cypher, (i + 2) % SearchMix.Sets))
    }

    /** Files and bytes of the collection and its index, against the raw
      * bytes of the points it holds. */
    def storeShape(c: Ctx): (Long, Long) = {
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(c.spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      var files, bytes = 0L
      while (it.hasNext) { val f = it.next(); files += 1; bytes += f.getLen }
      (files, bytes)
    }

    override def afterRound(c: Ctx): Map[String, Double] = {
      val (files, bytes) = storeShape(c)
      Map("VectorStore.files" -> files.toDouble,
        "store_amp" -> bytes.toDouble / (live.size.toLong * PointBytes))
    }

    /** Bytes the point writes put on disk per point written, and rows
      * the searches scanned per row they returned (traced ops only). */
    override def finish(c: Ctx, recs: Seq[Rec]): Map[String, Double] = {
      val ws = recs.filter(r => r.ok && r.exec.isDefined &&
        (r.op.kind == "vs.createDataPoints" || r.op.kind == "vs.indexDataPoints"))
      val upserts = ws.count(_.op.kind == "vs.createDataPoints")
      val ss = recs.filter(r => r.ok && r.exec.isDefined && r.op.kind == "vs.search")
      Map(
        "VectorStore.bytes_written_per_point" ->
          (if (upserts == 0) 0.0 else ws.map(_.exec.get.output).sum.toDouble / (upserts * Batch)),
        "VectorStore.rows_scanned_per_result" ->
          (if (ss.isEmpty) 0.0 else ss.map(_.exec.get.inputRecords).sum.toDouble / math.max(1L, ss.map(_.rows).sum)))
    }
  }

  def plan(seed: Long, ctx: Ctx): WorkloadPlan = new Plan(seed, ctx)
}
