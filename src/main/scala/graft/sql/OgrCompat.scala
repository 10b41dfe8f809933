package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OGR SQL dialect quirks, isolated behind a thin compatibility façade so
  * the core engine stays idiomatic Spark (SURVEY.md §7.5).
  *
  * Each helper cites the reference semantic it replicates:
  *  - string comparisons are case-insensitive, including `=` and `<>`
  *    (/root/reference/ogr/swq_op_general.cpp:888-990, strcasecmp)
  *  - integer `/ 0` and `% 0` yield INT_MAX, not null/error
  *    (/root/reference/ogr/swq_op_general.cpp:679-705)
  *  - JOIN returns at most ONE joined row per primary row — the FIRST
  *    match in the secondary layer's scan order
  *    (/root/reference/ogr/ogrsf_frmts/generic/ogr_gensql.cpp:1516-1546)
  *  - AND is null iff BOTH operands are null; OR is null if EITHER is
  *    (/root/reference/ogr/swq_op_general.cpp:545-562)
  * (First-appearance DISTINCT, swq.cpp:324-430, lives in OgrSql's
  * SELECT DISTINCT planning.)
  */
object OgrCompat {

  /** Case-insensitive string equality — OGR `=` on strings. */
  def eqCi(a: Column, b: Column): Column = lower(a) === lower(b)

  final val IntMax = 2147483647L

  /** OGR integer division: x/0 = INT_MAX (swq_op_general.cpp:686-694).
    * Spark's `div` is true int64 integral division truncating toward zero
    * (same as C++), with no double round-trip — exact for all quotients. */
  def intDiv(a: Column, b: Column): Column = {
    val al = a.cast("long"); val bl = b.cast("long")
    when(bl === 0, lit(IntMax)).otherwise(call_function("div", al, bl))
  }

  /** OGR integer modulo: x%0 = INT_MAX (swq_op_general.cpp:696-705). */
  def intMod(a: Column, b: Column): Column =
    when(b === 0, lit(IntMax)).otherwise(a.cast("long") % b.cast("long"))

  /** OGR `+` concatenates when the LEFT operand is string-typed — SWQ_ADD
    * falls into the string branch and appends all operands' string values
    * (swq_op_general.cpp:1135-1145; type promotion :1453-1460). The
    * dispatch is static on the declared field type, so it is a parameter
    * here, matching the reference's compile-time resolution. */
  def addOgr(a: Column, b: Column, leftIsString: Boolean): Column =
    if (leftIsString) concat(a, b.cast("string")) else a + b

  /** CPLAtof coercion: a string used as a number parses its LEADING
    * numeric prefix, yielding 0 when there is none ("12abc" → 12,
    * "abc" → 0) — swq_op_general.cpp:1744 via CPLAtof. Spark's bare
    * CAST(string AS DOUBLE) nulls on trailing garbage, hence the
    * prefix-extract. */
  def strToNum(c: Column): Column = {
    val m = regexp_extract(c, "^\\s*[-+]?[0-9]*\\.?[0-9]+([eE][-+]?[0-9]+)?", 0)
    // the regex guarantees a valid literal, so only the no-match empty
    // string needs guarding (ANSI CAST throws on it)
    when(length(m) === 0, lit(0.0)).otherwise(m.cast("double"))
  }

  /** OGR AND: null iff both null (swq_op_general.cpp:545-552). */
  def andOgr(a: Column, b: Column): Column =
    when(a.isNull && b.isNull, lit(null).cast("boolean"))
      .when(a.isNull, b).when(b.isNull, a)
      .otherwise(a && b)

  /** OGR OR: null if either null (swq_op_general.cpp:554-562). */
  def orOgr(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, lit(null).cast("boolean")).otherwise(a || b)

  /** OGR first-match JOIN: at most one secondary row per primary row; the
    * reference takes the secondary layer's scan order, which we make
    * deterministic by ordering on `tiebreak` (ascending, nulls first, e.g.
    * the FID; a tie keeps one of the tied rows). Equivalent to
    * dedup-first then plain join (SURVEY.md §2.B): the dedup is a min_by
    * aggregate over the struct of the tiebreak columns, which Spark
    * computes partially before its shuffle. */
  def firstMatchJoin(primary: DataFrame, secondary: DataFrame,
                     keys: Seq[String], tiebreak: Column*): DataFrame =
    firstMatchJoinTyped(primary, secondary, keys, "left", tiebreak: _*)

  def firstMatchJoinTyped(primary: DataFrame, secondary: DataFrame,
                          keys: Seq[String], joinType: String,
                          tiebreak: Column*): DataFrame = {
    def quoted(c: String): Column = col(s"`$c`")
    val rest = secondary.columns.toSeq.filterNot(keys.contains)
    val firstOnly =
      if (rest.isEmpty) secondary.select(keys.map(quoted): _*).distinct()
      else secondary.groupBy(keys.map(quoted): _*)
        .agg(min_by(struct(rest.map(quoted): _*), struct(tiebreak: _*)).as("__first"))
        .select(keys.map(quoted) ++ rest.map(c => col("__first").getField(c).as(c)): _*)
    primary.join(firstOnly, keys, joinType)
  }
}
