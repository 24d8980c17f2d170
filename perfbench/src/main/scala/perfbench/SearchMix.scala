package perfbench

import graft.{Graft, QueryVec, SearchParams}
import org.apache.spark.sql.Row
import scala.util.Random

/** `search_mix`: the caller's read path — every `Graft.SearchType`
  * through `Graft.search`, with seeded query vectors (stored ids or
  * literal vectors), top-k, dataset scopes, cypher patterns and
  * temporal intervals.
  *
  * Each type has three parameter sets. Set j fixes the cost-relevant
  * shape (cypher template, question, scope width, interval length,
  * query-vector kind); the seed draws the values inside it (ids,
  * vectors, k, which datasets, nations, customers, dates). Each pass
  * runs all sixteen types once, in a seeded order; the set a type uses
  * in pass j depends only on j and the type, so every seed's pass j
  * has the same cost shape while its inputs differ. The warm-up is
  * pass 0, round i is passes 2i−1 and 2i. A third of the types repeat
  * their warm-up query every pass (a session re-asks questions; the
  * determinism check compares them), the rest rotate through their
  * three sets. */
object SearchMix extends Workload {
  val name = "search_mix"
  val Sets = 3

  val types: Seq[Graft.SearchType] = Seq(Graft.Chunks, Graft.ChunksLexical, Graft.Summaries,
    Graft.Insights, Graft.RagCompletion, Graft.GraphCompletion, Graft.GraphCompletionCot,
    Graft.GraphCompletionContextExtension, Graft.GraphSummaryCompletion, Graft.Code,
    Graft.CodingRules, Graft.Feedback, Graft.Temporal, Graft.Cypher, Graft.NaturalLanguage,
    Graft.FeelingLucky)

  val vocab: IndexedSeq[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row agg key " +
    "query scan batch").split(" ").toIndexedSeq

  val questions: IndexedSeq[String] = IndexedSeq(
    "how many suppliers are located in each region",
    "how many customers are located in each nation",
    "which nation has the most suppliers")

  def cypher(j: Int, r: Random): String = j match {
    case 0 => s"MATCH (s:supplier)-[:located_in]->(n:nation {name: 'NATION_${r.nextInt(25)}'}) " +
      "RETURN s.id AS supplier ORDER BY supplier"
    case 1 => s"MATCH p = shortestPath((c:customer {id: 'customer:${r.nextInt(100)}'})" +
      "-[:located_in|in_region|placed_by|contains|supplied_by*1..3]-(s:supplier)) " +
      "RETURN length(p) AS depth, count(*) AS n_suppliers ORDER BY depth"
    case _ => "MATCH (o:order)-[:placed_by]->(c:customer) " +
      s"WITH c, count(o.id) AS n_orders WHERE n_orders >= ${2 + r.nextInt(4)} " +
      "MATCH (c)-[:located_in]->(n:nation) " +
      "RETURN n.name AS nation, count(c.id) AS n_big_customers ORDER BY nation"
  }

  private def vec(j: Int, r: Random): QueryVec =
    if (j % 2 == 0) QueryVec.Id(r.nextInt(2000).toLong)
    else {
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      QueryVec.Lit(v.map(x => Checks.round4(x / n)).toSeq)
    }

  /** Unscoped, two datasets, or four datasets, chosen by the seed. */
  private def datasets(j: Int, r: Random): Seq[String] =
    r.shuffle((0 until 20).toList).take(2 * j).sorted.map(i => s"src$i")

  private def tokens(r: Random): Seq[String] = r.shuffle(vocab.toList).take(1 + r.nextInt(4))

  private def interval(j: Int, r: Random): (Option[String], Option[String]) = {
    val len = 2 + 2 * j
    val from = 1 + r.nextInt(29 - len)
    (Some(f"2024-01-$from%02d ${r.nextInt(24)}%02d:00:00"),
      Some(f"2024-01-${from + len}%02d 00:00:00"))
  }

  /** Parameter set j of `t`, its values drawn from `r`. */
  def params(t: Graft.SearchType, j: Int, r: Random): SearchParams = t match {
    case Graft.ChunksLexical | Graft.Code =>
      SearchParams(queryTokens = Some(tokens(r)), topK = Some(1 + r.nextInt(10)), datasets = datasets(j, r))
    case Graft.GraphCompletionContextExtension =>
      SearchParams(queryTokens = Some(Seq("nation", r.nextInt(25).toString, "located", "in")))
    case Graft.CodingRules | Graft.FeelingLucky => SearchParams(datasets = datasets(j, r))
    case Graft.Temporal => SearchParams(interval = Some(interval(j, r)))
    case Graft.Cypher => SearchParams(cypher = Some(cypher(j, r)))
    case Graft.NaturalLanguage => SearchParams(queryText = Some(questions(j)))
    case _ => SearchParams(queryVec = Some(vec(j, r)), topK = Some(1 + r.nextInt(10)), datasets = datasets(j, r))
  }

  def describe(p: SearchParams): String = Seq(
    p.queryVec.map {
      case QueryVec.Id(i) => s"id=$i"
      case QueryVec.Lit(v) => s"lit=${v.take(2).mkString(",")}..${v.hashCode.toHexString}"
    },
    p.queryTokens.map(_.mkString("tok=", "+", "")), p.queryText.map("q=" + _),
    p.topK.map("k=" + _), Some(p.datasets).filter(_.nonEmpty).map(_.mkString("ds=", "+", "")),
    p.interval.map(i => s"iv=${i._1.getOrElse("")}..${i._2.getOrElse("")}"),
    p.cypher.map("cy=" + _)).flatten.mkString(" ")

  /** The top-k bound each type honours (None = the type has no k). */
  private def bound(t: Graft.SearchType, p: SearchParams): Option[Int] = t match {
    case Graft.Chunks | Graft.ChunksLexical | Graft.Summaries | Graft.Feedback | Graft.RagCompletion =>
      p.topK
    case Graft.CodingRules => Some(20)
    case _ => None
  }

  def check(t: Graft.SearchType, p: SearchParams)(ctx: Ctx, rows: Array[Row]): Seq[String] = {
    val k = bound(t, p)
    val base = k.toSeq.flatMap(Checks.atMost(rows, _))
    val fields = rows.headOption.map(_.schema.fieldNames.toSet).getOrElse(Set.empty[String])
    val scope = if (fields("doc_id")) Checks.inScope(ctx, rows, "doc_id", p.datasets) else Nil
    val ranked = t match {
      case Graft.Chunks | Graft.Summaries => Checks.rankedBy(rows, "cosine", "doc_id")
      case Graft.ChunksLexical => Checks.rankedBy(rows, "score", "doc_id")
      case _ => Nil
    }
    val brute = t match {
      case Graft.Chunks | Graft.Summaries => vectorTopK(ctx, rows, p)
      case _ => Nil
    }
    val nonEmpty = t match {
      // an unscoped vector or graph search always has candidates
      case Graft.Chunks | Graft.Summaries | Graft.Cypher | Graft.NaturalLanguage
          if p.datasets.isEmpty => Checks.nonEmpty(rows)
      // the interval's users with at least three events
      case Graft.Temporal => rows.filter(_.getAs[Number]("n_events").longValue < 3)
        .take(1).map(x => s"user ${x.getAs[Any]("user_id")} has fewer than 3 events").toSeq
      case _ => Nil
    }
    base ++ scope ++ ranked ++ brute ++ nonEmpty
  }

  /** CHUNKS / SUMMARIES rank the scoped embeddings by cosine to the
    * query; a stored query id excludes itself. Recompute on the driver. */
  private def vectorTopK(ctx: Ctx, rows: Array[Row], p: SearchParams): Seq[String] = {
    val (q, self) = p.queryVec.get match {
      case QueryVec.Id(i) => (ctx.vectors(i), Some(i))
      case QueryVec.Lit(v) => (v.toArray, None)
    }
    val cands = ctx.vectors.filter { case (id, _) =>
      !self.contains(id) && (p.datasets.isEmpty || ctx.docSource.get(id).exists(p.datasets.contains))
    }
    Checks.matchesBrute(rows, "doc_id", "cosine", Checks.bruteTopK(q, cands, p.topK.get))
  }

  def op(t: Graft.SearchType, p: SearchParams): Op =
    Op(s"search.${t.name}", s"search.${t.name} ${describe(p)}", "Graft.search",
      ctx => Some(Graft.search(ctx.spark, ctx.dir, t, p)), check(t, p))

  /** The parameter set type number `ti` uses in pass `j` (pass 0 is
    * the warm-up): every third type keeps its warm-up set. */
  def setOf(ti: Int, j: Int): Int = if (ti % Sets == 0) 0 else (ti + j) % Sets

  final class Plan(seed: Long) extends WorkloadPlan {
    private val r = new Random(seed)
    private val sets: Map[Graft.SearchType, IndexedSeq[SearchParams]] =
      types.map(t => t -> IndexedSeq.tabulate(Sets)(j => params(t, j, r))).toMap
    /** All sixteen types once, in a seeded order, with the sets of pass `j`. */
    private def pass(j: Int): Seq[Op] =
      r.shuffle(types.zipWithIndex).map { case (t, ti) => op(t, sets(t)(setOf(ti, j))) }
    def warmup: Seq[Op] = pass(0)
    /** Two passes: over one pass (16 reads, about 11 s) the latency's
      * run-to-run spread reached 0.2 of its median. */
    def round(i: Int): Seq[Op] = pass(2 * i - 1) ++ pass(2 * i)
  }

  def plan(seed: Long, ctx: Ctx): WorkloadPlan = new Plan(seed)
}
