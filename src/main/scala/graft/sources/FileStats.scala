package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LogicalFilter}
import org.apache.spark.sql.functions._

/** File-level data-skipping planner — the Delta "stats + OPTIMIZE"
  * companion our lake tables were missing. [[LakeTable.collectStats]]
  * records per-file min/max/null-count for chosen columns;
  * [[LakeTable.readWhere]] rewrites the user's predicate into a
  * can-this-file-match test over those bounds ([[canMatch]]) and plans
  * the scan over ONLY the surviving files.
  *
  * Parquet row-group stats already skip WITHIN a file the engine has
  * opened; file-level stats remove the file from the plan entirely — at
  * 100 TB the difference between opening 100k footers and consulting a
  * 100k-row stats table. The rewrite is deliberately conservative: any
  * predicate shape it does not understand maps to `true` (keep the
  * file), so pruning can never change results — only shrink the scan.
  *
  * The predicate is matched AFTER analysis + optimization (see
  * [[resolvedPredicate]]): the analyzer binds attributes and coerces
  * literal types, the optimizer folds the coercion casts back into
  * typed literals — so `col("l_partkey") === 17` (int literal, bigint
  * column) arrives here as `EqualTo(l_partkey: bigint, 17L)` and
  * matches cleanly. Spark 4's lazy Column AST makes matching on the
  * raw Column tree impossible anyway (it is an unresolved
  * ColumnNode graph, not Catalyst expressions).
  */
object FileStats {

  /** Stats-table column names for a data column. The `__graft` infix
    * keeps them out of any realistic user namespace.
    */
  def minCol(c: String): String = c + "__graft_min"
  def maxCol(c: String): String = c + "__graft_max"
  def nullsCol(c: String): String = c + "__graft_nulls"
  def bloomCol(c: String): String = c + "__graft_bloom"
  val FileCol = "__graft_file"
  val RowsCol = "__graft_rows"

  /** Per-file bloom-filter build aggregate over `c`, reusing Spark's own
    * runtime-filter machinery (`BloomFilterAggregate`, the aggregate
    * behind `spark.sql.optimizer.runtime.bloomFilter.*`): values hash
    * through `xxhash64`, partial buffers merge map-side, the result is
    * one binary blob per file. Nulls hash to the seed and contribute one
    * harmless bit — bloom checks only ever fire for non-null literals.
    */
  def bloomAgg(c: Column, numItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    GraftBridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(GraftBridge.expression(c))),
      Literal(numItems), Literal(numBits)).toAggregateExpression())
  }

  /** Membership probe against a stored per-file bloom: true/false for a
    * non-null literal, and only consulted where a false definitively
    * rules the file out. Pairs with [[bloomAgg]]'s xxhash64 pre-hash.
    * Spark's own `might_contain` insists on a CONSTANT bloom (it caches
    * one deserialized filter), so probing a per-row bloom column takes
    * [[BloomColumnMightContain]] — deserialization per stats row is
    * fine at stats-table scale (one row per FILE, not per data row).
    */
  private def bloomMightContain(a: String, l: Literal): Column =
    GraftBridge.column(BloomColumnMightContain(
      GraftBridge.expression(col(bloomCol(a))), new XxHash64(Seq(l))))

  private def bloomMightContainAny(a: String, ls: Seq[Literal]): Column =
    GraftBridge.column(BloomColumnMightContainAny(
      GraftBridge.expression(col(bloomCol(a))),
      org.apache.spark.sql.catalyst.expressions.CreateArray(
        ls.map(l => new XxHash64(Seq(l))))))

  /** Above this many IN-list literals the bloom test collapses to ONE
    * any-hash probe per stats row (single filter deserialization) at the
    * cost of slightly conservative pruning: kept iff (some literal fits
    * the bounds) AND (some literal might be in the bloom), instead of
    * the exact per-literal conjunction. Sound — the kept set can only
    * grow — and the wide-list case is exactly where per-literal probes
    * are unaffordable.
    */
  private val ExactInListProbes = 8

  private def inTest(
      a: String, ls0: Seq[Literal],
      statted: Set[String], bloomed: Set[String]): Column = {
    // a null literal matches no row (x = NULL is never true)
    val ls = ls0.filter(_.value != null)
    if (ls.isEmpty) lit(false)
    else if (ls.length <= ExactInListProbes || !bloomed.contains(a))
      balancedOr(ls.map { l =>
        val bounds = col(minCol(a)) <= GraftBridge.column(l) &&
          GraftBridge.column(l) <= col(maxCol(a))
        if (bloomed.contains(a)) bounds && bloomMightContain(a, l) else bounds
      })
    else {
      val boundsOr = balancedOr(ls.map(l =>
        col(minCol(a)) <= GraftBridge.column(l) &&
          GraftBridge.column(l) <= col(maxCol(a))))
      boundsOr && bloomMightContainAny(a, ls)
    }
  }

  /** OR of `cs` as a balanced tree: depth O(log n), where a left fold's
    * depth is n and a few hundred IN-list literals overflow the stack of
    * every recursive pass over the tree (Column conversion, analysis).
    */
  private def balancedOr(cs: Seq[Column]): Column =
    if (cs.length == 1) cs.head
    else {
      val (l, r) = cs.splitAt(cs.length / 2)
      balancedOr(l) || balancedOr(r)
    }

  /** The analyzed+optimized row-level predicate of `data.where(cond)`:
    * every Filter condition the optimizer kept, conjoined. None when the
    * optimizer dissolved the filter entirely (foldable-true predicates,
    * or a provably-empty plan — both prune-irrelevant).
    */
  def resolvedPredicate(data: DataFrame, cond: Column): Option[Expression] = {
    val filters = data.where(cond).queryExecution.optimizedPlan.collect {
      case f: LogicalFilter => f.condition
    }
    filters.reduceOption(And)
  }

  /** Rewrite a resolved row-level predicate into a file-level "may
    * contain a matching row" predicate over the stats columns.
    * `statted` is the set of data columns with recorded stats; leaves
    * touching any other column (or any shape beyond simple
    * column-vs-literal comparison) return `lit(true)`.
    *
    * Soundness under nulls: min/max are computed over non-null values,
    * so an all-null file has NULL bounds, every bound comparison yields
    * NULL, and the caller's null-rejecting `where` drops the file —
    * correct for value predicates (an all-null column cannot equal
    * anything) while IS NULL / IS NOT NULL consult the recorded null
    * counts instead of the bounds.
    */
  def canMatch(
      e: Expression, statted: Set[String],
      bloomed: Set[String] = Set.empty): Column = {
    def ok(name: String) = statted.contains(name)
    def lo(name: String) = col(minCol(name))
    def hi(name: String) = col(maxCol(name))
    def litC(l: Literal): Column = GraftBridge.column(l)
    // equality sharpens through the bloom when one was recorded: bounds
    // say "within range", the bloom says "a value hashing like this was
    // actually present" — the decisive test for point lookups on
    // high-cardinality columns where every file's range overlaps
    def eqTest(a: String, l: Literal): Column = {
      val bounds = lo(a) <= litC(l) && litC(l) <= hi(a)
      if (bloomed.contains(a) && l.value != null)
        bounds && bloomMightContain(a, l)
      else bounds
    }

    e match {
      // boolean structure maps 1:1 — AND prunes when EITHER side proves
      // impossible, OR only when BOTH do. NOT is absent on purpose:
      // canMatch(!p) is NOT !canMatch(p) (both p and !p usually have
      // possible rows in the same file), so Not falls to the default.
      case And(l, r) => canMatch(l, statted, bloomed) && canMatch(r, statted, bloomed)
      case Or(l, r)  => canMatch(l, statted, bloomed) || canMatch(r, statted, bloomed)

      case EqualTo(Attr(a), l: Literal) if ok(a) => eqTest(a, l)
      case EqualTo(l: Literal, Attr(a)) if ok(a) => eqTest(a, l)
      case EqualNullSafe(Attr(a), l: Literal) if ok(a) =>
        // <=> NULL selects null rows (bounds can't speak) — consult the
        // null count; non-null literals bound-check like EqualTo
        if (l.value == null) col(nullsCol(a)) > 0
        else eqTest(a, l)
      case GreaterThan(Attr(a), l: Literal) if ok(a)        => hi(a) > litC(l)
      case GreaterThan(l: Literal, Attr(a)) if ok(a)        => lo(a) < litC(l)
      case GreaterThanOrEqual(Attr(a), l: Literal) if ok(a) => hi(a) >= litC(l)
      case GreaterThanOrEqual(l: Literal, Attr(a)) if ok(a) => lo(a) <= litC(l)
      case LessThan(Attr(a), l: Literal) if ok(a)           => lo(a) < litC(l)
      case LessThan(l: Literal, Attr(a)) if ok(a)           => hi(a) > litC(l)
      case LessThanOrEqual(Attr(a), l: Literal) if ok(a)    => lo(a) <= litC(l)
      case LessThanOrEqual(l: Literal, Attr(a)) if ok(a)    => hi(a) >= litC(l)

      case In(Attr(a), list) if ok(a) && list.forall(_.isInstanceOf[Literal]) =>
        inTest(a, list.collect { case l: Literal => l }, statted, bloomed)
      // the optimizer turns long IN-lists into InSet over internal values
      case InSet(att @ Attr(a), hset) if ok(a) =>
        inTest(a, hset.toSeq.map(v => Literal(v, att.dataType)), statted, bloomed)

      case IsNull(Attr(a)) if ok(a)    => col(nullsCol(a)) > 0
      case IsNotNull(Attr(a)) if ok(a) => col(nullsCol(a)) < col(RowsCol)

      // prefix match: file may hold a string with prefix p iff
      // max >= p (something sorts at/after the prefix) and
      // min < successor(p) (something sorts before the next prefix)
      case StartsWith(Attr(a), Literal(p, _)) if ok(a) && p != null =>
        val prefix = p.toString
        val lowerOk = hi(a) >= lit(prefix)
        prefixSuccessor(prefix).fold(lowerOk)(u => lowerOk && lo(a) < lit(u))

      case _ => lit(true) // unknown shape: never prune on it
    }
  }

  /** Resolved column reference (post-analysis every bound column is an
    * AttributeReference; its dataType drives InSet literal typing).
    */
  private object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
  }

  /** Scheme-less path of a file-URI string column — the relational twin
    * of `new Path(s).toUri.getPath` for the `scheme://authority/path`
    * and `scheme:/path` shapes `input_file_name()` produces. Percent
    * escapes are NOT decoded (toUri.getPath decodes them); a path whose
    * two spellings disagree joins to nothing and its file is KEPT, so
    * the discrepancy can only cost skipping, never correctness.
    */
  def schemelessFile(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")

  /** Smallest string greater than every string with prefix `p`:
    * increment the last incrementable char and truncate the rest
    * (`"abc"` -> `"abd"`, `"ab￿"` -> `"ac"`). None when every char
    * is `￿` — no finite upper bound exists.
    */
  private[sources] def prefixSuccessor(p: String): Option[String] = {
    val i = p.lastIndexWhere(_ != '￿')
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }
}
