package perfbench

import org.apache.spark.sql.Row

/** Output checks shared by the workloads. Each returns the list of
  * violations (empty = the op's output is correct). */
object Checks {
  def nonEmpty(rows: Array[Row]): Seq[String] =
    if (rows.isEmpty) Seq("no rows returned") else Nil

  def atMost(rows: Array[Row], k: Int): Seq[String] =
    if (rows.length > k) Seq(s"${rows.length} rows exceed top-k $k") else Nil

  def exactly(rows: Array[Row], n: Int): Seq[String] =
    if (rows.length != n) Seq(s"${rows.length} rows, expected $n") else Nil

  /** Rows are ordered by `score` descending, ties by `id` ascending. */
  def rankedBy(rows: Array[Row], score: String, id: String): Seq[String] = {
    val keys = rows.map(r => (r.getAs[Number](score).doubleValue, r.getAs[Number](id).longValue))
    val bad = keys.sliding(2).collect {
      case Array((s1, i1), (s2, i2)) if s1 < s2 || (s1 == s2 && i1 > i2) => s"($s1,$i1) before ($s2,$i2)"
    }.toSeq
    if (bad.isEmpty) Nil else Seq(s"not ranked by $score desc, $id asc: ${bad.head}")
  }

  /** Every returned document lies inside the caller's dataset scope. */
  def inScope(ctx: Ctx, rows: Array[Row], idCol: String, datasets: Seq[String]): Seq[String] =
    if (datasets.isEmpty) Nil
    else {
      val out = rows.map(_.getAs[Number](idCol).longValue)
        .filterNot(id => ctx.docSource.get(id).exists(datasets.contains))
      if (out.isEmpty) Nil else Seq(s"ids ${out.take(3).mkString(",")} outside scope $datasets")
    }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def round4(x: Double): Double = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Driver-side brute-force cosine top-k over the candidate vectors:
    * (id, cosine rounded to 4 places), ranked like the engine. */
  def bruteTopK(query: Array[Double], cands: Iterable[(Long, Array[Double])], k: Int): Seq[(Long, Double)] =
    cands.iterator.map { case (id, v) => (id, round4(cosine(query, v))) }.toSeq
      .sortBy { case (id, c) => (-c, id) }.take(k)

  /** The rows' (id, cosine) pairs equal the brute-force top-k. A pair
    * of candidates whose rounded cosines tie at the k-th place may
    * legitimately swap only if their ids order them, which the ranked
    * comparison already fixes, so the comparison is exact. */
  def matchesBrute(rows: Array[Row], idCol: String, scoreCol: String,
      expected: Seq[(Long, Double)]): Seq[String] = {
    val got = rows.map(r => (r.getAs[Number](idCol).longValue, r.getAs[Number](scoreCol).doubleValue)).toSeq
    if (got.map(_._1) == expected.map(_._1) &&
        got.zip(expected).forall { case ((_, a), (_, b)) => math.abs(a - b) <= 1e-4 }) Nil
    else Seq(s"top-k ${got.take(3)} differs from brute force ${expected.take(3)}")
  }
}
