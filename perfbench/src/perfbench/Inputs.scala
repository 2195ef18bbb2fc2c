package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Half-open range [lo, hi) of permuted ranks. Every injection (which side a
  * key group is on, how many copies it has, which values differ) is a set
  * of such ranges, so the generator and the expected counts read the same
  * predicate. */
final case class Span(lo: Long, hi: Long) {
  def contains(r: Long): Boolean = r >= lo && r < hi
}

/** Seeded bijection of [0, m): rank(g) = (a·g + b) mod m. A range of ranks
  * is a fixed number of groups scattered over the key space by the seed. */
final case class Perm(a: Long, b: Long, m: Long) {
  def apply(g: Long): Long = Math.floorMod(Math.addExact(Math.multiplyExact(a, g), b), m)
}

object Perm {
  def apply(seed: Long, m: Long): Perm = {
    val rnd = new scala.util.Random(seed)
    def draw(bound: Long) = (rnd.nextLong() & Long.MaxValue) % bound
    @annotation.tailrec def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1 + draw(m - 1)
    while (gcd(a, m) != 1) a = 1 + draw(m - 1)
    Perm(a, draw(m), m)
  }
}

sealed trait Kind
case object Str extends Kind
case object Dbl extends Kind
case object Lng extends Kind
case object Int32 extends Kind

/** One value column. `side` is 0 for both sides, 1 or 2 for a column only
  * that side has. On groups whose rank is in `mismatch`, side 2 holds a
  * changed value, or NULL when `nullOnRight`. */
final case class ColSpec(name: String, kind: Kind, side: Int = 0,
    mismatch: Option[Span] = None, nullOnRight: Boolean = false)

/** Copies of a key group on each side: ranks in `span` get `left` rows on
  * side 1 and `right` rows on side 2; every other rank gets one row each.
  * All copies of a group carry the same values, so the expected counts do
  * not depend on how the compare pairs duplicates. */
final case class Copies(span: Span, left: Int, right: Int)

/** A workload's input design: `groups` key groups over `files` parquet files
  * per side. With `compositeKey`, the key is (k1, k2) and groups with rank in
  * `nullK1` get a NULL k1, the `allNull` group NULL in both; otherwise the key
  * is a single `id`. */
final case class Design(
    groups: Long,
    files: Int,
    copies: Seq[Copies],
    columns: Seq[ColSpec],
    compositeKey: Boolean = false,
    nullK1: Seq[Span] = Nil,
    allNull: Option[Span] = None) {

  val keys: Seq[String] = if (compositeKey) Seq("k1", "k2") else Seq("id")
  def compared: Seq[ColSpec] = columns.filter(_.side == 0)

  def copiesOf(r: Long): (Int, Int) =
    copies.find(_.span.contains(r)).map(c => (c.left, c.right)).getOrElse((1, 1))

  /** Expected results, counted group by group from the injection ranges. */
  def expected: Expected = {
    var rows1, rows2, common, unq1, unq2, unequalRows = 0L
    val unequal = Array.fill(compared.length)(0L)
    val spans = compared.map(_.mismatch).toArray
    var r = 0L
    while (r < groups) {
      val (c1, c2) = copiesOf(r)
      val pairs = math.min(c1, c2)
      rows1 += c1; rows2 += c2; common += pairs
      unq1 += math.max(c1 - c2, 0); unq2 += math.max(c2 - c1, 0)
      var any = false
      var j = 0
      while (j < spans.length) {
        if (spans(j).exists(_.contains(r))) { unequal(j) += pairs; any = true }
        j += 1
      }
      if (any) unequalRows += pairs
      r += 1
    }
    Expected(rows1, rows2, common, unq1, unq2, unequalRows,
      compared.map(_.name).zip(unequal).toMap ++ keys.map(_ -> 0L))
  }

  /** Writes both sides as multi-file parquet under `dir`, one file per
    * slice of the key groups. Rows are built in plain Scala from the same
    * ranges [[expected]] reads. */
  def write(spark: SparkSession, seed: Long, dir: String): (String, String) = {
    val perm = Perm(seed, groups)
    def side(s: Int): String = {
      val path = s"$dir/${if (s == 1) "left" else "right"}.parquet"
      val cols = columns.zipWithIndex.filter { case (c, _) => c.side == 0 || c.side == s }
      val keyFields =
        if (compositeKey) Seq(StructField("k1", LongType), StructField("k2", StringType))
        else Seq(StructField("id", LongType))
      val schema = StructType(keyFields ++ cols.map { case (c, _) => StructField(c.name, sqlType(c.kind)) })
      val rows = spark.sparkContext.range(0, groups, 1, files).mapPartitions(_.flatMap { g =>
        val r = perm(g)
        val (c1, c2) = copiesOf(r)
        val keys: Seq[Any] =
          if (!compositeKey) Seq(g)
          else {
            val isAllNull = allNull.exists(_.contains(r))
            Seq(if (isAllNull || nullK1.exists(_.contains(r))) null else g / 3,
              if (isAllNull) null else s"k$g")
          }
        val row = Row.fromSeq(keys ++ cols.map { case (c, j) => value(c, j, s, g, r, seed) })
        Iterator.fill(if (s == 1) c1 else c2)(row)
      })
      spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
      path
    }
    (side(1), side(2))
  }

  private def sqlType(k: Kind): DataType = k match {
    case Str => StringType
    case Dbl => DoubleType
    case Lng => LongType
    case Int32 => IntegerType
  }

  /** Column `j` of group `g` (rank `r`) on side `s`: a value drawn from a
    * hash of (g, seed, j), changed on side 2 inside the mismatch range. */
  private def value(c: ColSpec, j: Int, s: Int, g: Long, r: Long, seed: Long): Any = {
    val h = Design.mix(Design.mix(Design.mix(g) ^ seed) ^ j)
    val changed = s == 2 && c.mismatch.exists(_.contains(r))
    if (changed && c.nullOnRight) null
    else c.kind match {
      case Str => java.lang.Long.toHexString(h) + (if (changed) "~" else "")
      case Dbl => Math.floorMod(h, 10000000L) / 100.0 + (if (changed) 0.25 else 0.0)
      case Lng => Math.floorMod(h, 1000000000L) + (if (changed) 1L else 0L)
      case Int32 => Math.floorMod(h, 100000L).toInt + (if (changed) 1 else 0)
    }
  }
}

object Design {
  /** SplitMix64's finalizer: a fixed, well-mixed 64-bit hash. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

final case class Expected(
    rows1: Long, rows2: Long, common: Long, unq1: Long, unq2: Long,
    unequalRows: Long, unequal: Map[String, Long]) {
  def toJson: String = {
    import graft.report.Json
    Json.obj(
      "rows1" -> Json.num(rows1), "rows2" -> Json.num(rows2),
      "common" -> Json.num(common), "unq1" -> Json.num(unq1), "unq2" -> Json.num(unq2),
      "unequal_rows" -> Json.num(unequalRows),
      "unequal" -> Json.obj(unequal.toSeq.sortBy(_._1).map { case (k, n) => k -> Json.num(n) }: _*))
  }
}

object Designs {
  /** BASELINE.md's shape: an `id` key, 3 string and 6 numeric columns per
    * side, partial column overlap (side 1 alone has n6, side 2 alone n7), 1%
    * of each side's rows unique to it, sparse mismatches in three compared
    * columns, two of whose ranges overlap. */
  def baseline(rows: Long): Design = {
    val u = rows / 100
    val m = rows + u
    val shared = 2 * u
    val k = rows / 1000
    Design(
      groups = m,
      files = 8,
      copies = Seq(Copies(Span(0, u), 1, 0), Copies(Span(u, shared), 0, 1)),
      columns = Seq(
        ColSpec("s1", Str), ColSpec("s2", Str, mismatch = Some(Span(shared, shared + k))),
        ColSpec("s3", Str),
        ColSpec("n1", Dbl, mismatch = Some(Span(shared + k / 2, shared + 2 * k))),
        ColSpec("n2", Dbl), ColSpec("n3", Dbl),
        ColSpec("n4", Lng, mismatch = Some(Span(shared + 5 * k, shared + 6 * k))),
        ColSpec("n5", Int32),
        ColSpec("n6", Dbl, side = 1), ColSpec("n7", Dbl, side = 2)))
  }

  /** A wide table: a composite (k1, k2) key, `width` compared columns
    * cycling double / long / string, one column only on each side. Key
    * groups: 2% unique to each side, 2% duplicated 2-vs-3 and 2% 3-vs-2
    * times, 2% with a NULL k1 (plus a fifth of the side-unique groups), and
    * one group whose keys are both NULL with two rows on each side. Every
    * fifth column has mismatches in its own 5% range of the shared groups;
    * every third of those puts NULL on side 2. */
  def wide(groups: Long, width: Int): Design = {
    val u = groups / 50
    val d = groups / 50
    val z = groups / 50
    val shared = 2 * u
    val dupEnd = shared + 2 * d
    val allNull = Span(dupEnd + z, dupEnd + z + 1)
    val slot = groups / 20
    val cols = (0 until width).map { j =>
      val kind = Seq(Dbl, Lng, Str)(j % 3)
      val mis =
        if (j % 5 != 0) None
        else {
          val lo = shared + (j * 7919L) % (groups - shared - slot)
          Some(Span(lo, lo + slot))
        }
      ColSpec(f"c$j%03d", kind, mismatch = mis, nullOnRight = mis.isDefined && j % 15 == 0)
    } ++ Seq(ColSpec("only1", Lng, side = 1), ColSpec("only2", Lng, side = 2))
    Design(
      groups = groups,
      files = 4,
      copies = Seq(
        Copies(Span(0, u), 1, 0), Copies(Span(u, shared), 0, 1),
        Copies(Span(shared, shared + d), 2, 3), Copies(Span(shared + d, dupEnd), 3, 2),
        Copies(allNull, 2, 2)),
      columns = cols,
      compositeKey = true,
      nullK1 = Seq(Span(0, u / 5), Span(u, u + u / 5), Span(dupEnd, dupEnd + z)),
      allNull = Some(allNull))
  }
}
