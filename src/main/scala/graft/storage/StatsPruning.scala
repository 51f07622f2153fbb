package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column statistics for data skipping — the Spark-side analog
  * of the reference's sparse primary-key index (`ORDER BY (modem_name,
  * timestamp)` + `PRIMARY KEY`, tables.sql:30, which ClickHouse uses to
  * skip granules inside parts) and of Delta/Iceberg file-level min/max
  * stats.
  *
  * Stats are harvested from parquet FOOTERS at commit time (no data
  * scan — the footer is already open for the row count) and recorded in
  * the transaction log, so at plan time a filtered read consults only
  * the log: zero file opens for skipped files. At 100 TB / millions of
  * parts this is the difference between "schedule a task per file and
  * let row-group stats reject it" and "never list, open, or schedule the
  * file at all".
  *
  * Covered: top-level primitive columns (int/long/date/timestamp ->
  * `long`; float/double -> `double`; UTF-8 binary -> `string`) plus
  * hive-style partition directory values (`date=2024-01-02`), which the
  * footer cannot see, recorded as equal min/max. Nested fields (the
  * channel arrays) and other types carry no stats and never prune.
  */
object StatsPruning {

  /** min/max as exact decimal/UTF-8 strings; `typ` in {long, double, string}. */
  final case class ColStats(typ: String, min: String, max: String)

  // ------------------------------------------------------- footer harvest

  /** Read (rowCount, per-column stats) from one parquet footer, merging
    * row-group chunk stats. Columns whose writer recorded no stats (or
    * only nulls) are omitted — absence always means "cannot prune".
    */
  def footerInfo(path: Path, conf: org.apache.hadoop.conf.Configuration)
      : (Long, Map[String, ColStats]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val footer = reader.getFooter
      val acc = scala.collection.mutable.Map[String, ColStats]()
      footer.getBlocks.forEach { block =>
        block.getColumns.forEach { chunk =>
          val pathParts = chunk.getPath.toArray
          if (pathParts.length == 1) {
            val name = pathParts(0)
            val s = chunk.getStatistics
            if (s != null && !s.isEmpty && s.hasNonNullValue) {
              chunkStats(chunk.getPrimitiveType, s).foreach { cs =>
                acc.get(name) match {
                  case None => acc.put(name, cs)
                  case Some(prev) => acc.put(name, mergeStats(prev, cs))
                }
              }
            }
          }
        }
      }
      // hive-style partition dirs: data/<gen>/date=2024-01-02/part.parquet
      partitionValues(path).foreach { case (col, cs) => acc.put(col, cs) }
      (reader.getRecordCount, acc.toMap)
    } finally reader.close()
  }

  private def chunkStats(pt: PrimitiveType,
      s: org.apache.parquet.column.statistics.Statistics[_]): Option[ColStats] = {
    import PrimitiveType.PrimitiveTypeName._
    pt.getPrimitiveTypeName match {
      case INT32 | INT64 =>
        // DATE is int32 days, TIMESTAMP(MICROS) is int64 micros — both
        // compare correctly as plain longs, matching Catalyst internals
        Some(ColStats("long",
          s.genericGetMin.toString, s.genericGetMax.toString))
      case FLOAT | DOUBLE =>
        Some(ColStats("double",
          s.genericGetMin.toString, s.genericGetMax.toString))
      case BINARY if pt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        val bs = s.asInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics]
        Some(ColStats("string",
          bs.genericGetMin.toStringUsingUTF8, bs.genericGetMax.toStringUsingUTF8))
      case _ => None // boolean/int96/fixed: not worth stats
    }
  }

  private def mergeStats(a: ColStats, b: ColStats): ColStats = {
    require(a.typ == b.typ, s"stat type flip ${a.typ} vs ${b.typ}")
    val (lo, hi) = a.typ match {
      case "string" =>
        (if (a.min <= b.min) a.min else b.min, if (a.max >= b.max) a.max else b.max)
      case _ =>
        val (am, bm) = (BigDecimal(a.min), BigDecimal(b.min))
        val (ax, bx) = (BigDecimal(a.max), BigDecimal(b.max))
        ((am min bm).toString, (ax max bx).toString)
    }
    ColStats(a.typ, lo, hi)
  }

  /** `date=2024-01-02` dir segments → ("date", days-as-long min=max);
    * non-date partition values are recorded as strings.
    */
  def partitionValues(file: Path): Map[String, ColStats] =
    FactTable.partitionDirs(file.toString).collect {
      case (col, raw) if raw != FactTable.DefaultPartitionValue =>
        col -> (scala.util.Try(
          java.time.LocalDate.parse(raw).toEpochDay.toString) match {
          case scala.util.Success(days) => ColStats("long", days, days)
          case _ => ColStats("string", raw, raw)
        })
    }.toMap

  // ----------------------------------------------------------- prune test

  /** True iff `stats` PROVE no row of the file can satisfy `cond`.
    * Conservative: anything unrecognized keeps the file.
    */
  def canPrune(cond: Column, stats: Map[String, ColStats]): Boolean =
    prunable(normalize(
      org.apache.spark.sql.GraftColumnBridge.expression(cond)), stats)

  /** Column-DSL trees arrive pre-analysis, with operators still packed as
    * `UnresolvedFunction("=", …)` etc. — rewrite the handful of names the
    * pruner understands into their concrete Catalyst nodes. Unknown
    * functions stay opaque (and therefore never prune).
    */
  private def normalize(e: ce.Expression): ce.Expression = e.transformUp {
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.length == 1 && !f.isDistinct =>
      (f.nameParts.head.toLowerCase(java.util.Locale.ROOT), f.arguments) match {
        case ("=" | "==", Seq(a, b)) => ce.EqualTo(a, b)
        case ("<=>", Seq(a, b)) => ce.EqualNullSafe(a, b)
        case ("<", Seq(a, b)) => ce.LessThan(a, b)
        case ("<=", Seq(a, b)) => ce.LessThanOrEqual(a, b)
        case (">", Seq(a, b)) => ce.GreaterThan(a, b)
        case (">=", Seq(a, b)) => ce.GreaterThanOrEqual(a, b)
        case ("and", Seq(a, b)) => ce.And(a, b)
        case ("or", Seq(a, b)) => ce.Or(a, b)
        case ("in", args) if args.size >= 2 => ce.In(args.head, args.tail)
        case _ => f
      }
  }

  private def prunable(e: ce.Expression, st: Map[String, ColStats]): Boolean =
    e match {
      case ce.And(l, r) => prunable(l, st) || prunable(r, st)
      case ce.Or(l, r) => prunable(l, st) && prunable(r, st)
      case cmp: ce.BinaryComparison =>
        (attrName(cmp.left), foldedValue(cmp.right)) match {
          case (Some(a), Some(v)) => compPrunable(cmp, a, v, st, flipped = false)
          case _ =>
            (attrName(cmp.right), foldedValue(cmp.left)) match {
              case (Some(a), Some(v)) => compPrunable(cmp, a, v, st, flipped = true)
              case _ => false
            }
        }
      case ce.In(a, vs) =>
        attrName(a).exists { name =>
          vs.nonEmpty && vs.forall { v =>
            foldedValue(v).exists(lv =>
              st.get(name).exists(cs => outside(cs, lv)))
          }
        }
      case _ => false
    }

  /** Top-level-conjunct equality probes `(column, external value)` of a
    * Column predicate — the shape a per-part Bloom skip index can test.
    * Only conjuncts of the form `col = literal` qualify (every row the
    * predicate accepts must carry that exact key); anything under an OR
    * is ignored. Values come back as JVM externals (String/Long/...)
    * ready for `BloomFilter.mightContain`.
    */
  def equalityProbes(cond: Column): Seq[(String, Any)] = {
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def external(v: Any): Any = v match {
      case u: UTF8String => u.toString
      case x => x
    }
    conjuncts(normalize(
      org.apache.spark.sql.GraftColumnBridge.expression(cond))).flatMap {
      case eq @ (_: ce.EqualTo | _: ce.EqualNullSafe) =>
        val b = eq.asInstanceOf[ce.BinaryExpression]
        (attrName(b.left), foldedValue(b.right)) match {
          case (Some(a), Some(v)) => Some(a -> external(v))
          case _ => (attrName(b.right), foldedValue(b.left)) match {
            case (Some(a), Some(v)) => Some(a -> external(v))
            case _ => None
          }
        }
      case _ => None
    }
  }

  /** Top-level-conjunct ARRAY-membership probes `(column, external
    * value)` — the shape a per-part array-element Bloom skip index
    * (ClickHouse `bloom_filter` over an Array column) can test.
    * Recognizes `array_contains(col, literal)` where `col` is a DIRECT
    * attribute (an array computed by an expression — e.g. hasToken's
    * split — has its own index family and never matches here). A row
    * the predicate accepts must hold that exact element, so proving the
    * element absent from every element the part wrote rejects the part.
    * Anything under an OR is ignored.
    */
  def arrayContainsProbes(cond: Column): Seq[(String, Any)] = {
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def external(v: Any): Any = v match {
      case u: UTF8String => u.toString
      case x => x
    }
    // the Column DSL builds UnresolvedFunction("array_contains", …);
    // an analyzed predicate carries the resolved ce.ArrayContains —
    // recognize both (the tokenProbes convention)
    object Contains {
      def unapply(e: ce.Expression): Option[(ce.Expression, ce.Expression)] =
        e match {
          case ce.ArrayContains(a, v) => Some((a, v))
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
              if f.nameParts.length == 1 && !f.isDistinct &&
                f.nameParts.head
                  .equalsIgnoreCase("array_contains") &&
                f.arguments.length == 2 =>
            Some((f.arguments(0), f.arguments(1)))
          case _ => None
        }
    }
    conjuncts(normalize(
      org.apache.spark.sql.GraftColumnBridge.expression(cond))).flatMap {
      case Contains(a, v) =>
        (attrName(a), foldedValue(v)) match {
          case (Some(n), Some(x)) => Some(n -> external(x))
          case _ => None
        }
      case _ => None
    }
  }

  /** The tokenizer shared by `FactTable.hasToken` and the token-bloom
    * sidecar writer: maximal alphanumeric runs, everything else is a
    * separator (ClickHouse `tokenbf_v1`'s tokenization, case-sensitive).
    * DuckDB's `string_split_regex(text, '[^A-Za-z0-9]+')` produces the
    * identical token stream, so oracle SQL can mirror the predicate.
    */
  val TokenSplitRe = "[^A-Za-z0-9]+"

  /** Top-level-conjunct token probes `(column, token)` — the shape a
    * per-part token-Bloom skip index (tokenbf_v1) can test. Recognizes
    * `array_contains(split(col, TokenSplitRe), 'tok')` — the tree
    * `FactTable.hasToken` builds — in both its unresolved Column-DSL
    * form and the resolved Catalyst form. Only a split on EXACTLY the
    * shared tokenizer regex qualifies: a different separator produces a
    * different token stream than the sidecar indexed, and pruning on it
    * would drop live rows. Anything under an OR is ignored.
    */
  def tokenProbes(cond: Column): Seq[(String, String)] = {
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    object SplitTokens {
      def unapply(e: ce.Expression): Option[String] = e match {
        case ce.StringSplit(a, re, _) =>
          foldedValue(re).collect {
            case s if s.toString == TokenSplitRe => ()
          }.flatMap(_ => attrName(a))
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.length == 1 &&
              f.nameParts.head.equalsIgnoreCase("split") &&
              f.arguments.size >= 2 =>
          foldedValue(f.arguments(1)).collect {
            case s if s.toString == TokenSplitRe => ()
          }.flatMap(_ => attrName(f.arguments.head))
        case _ => None
      }
    }
    object TokenPredicate {
      def unapply(e: ce.Expression): Option[(String, String)] = {
        val args: Option[(ce.Expression, ce.Expression)] = e match {
          case ce.ArrayContains(arr, v) => Some((arr, v))
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
              if f.nameParts.length == 1 &&
                f.nameParts.head.equalsIgnoreCase("array_contains") &&
                f.arguments.size == 2 =>
            Some((f.arguments.head, f.arguments(1)))
          case _ => None
        }
        args.flatMap {
          case (SplitTokens(attr), v) =>
            foldedValue(v).collect {
              case u: UTF8String => attr -> u.toString
              case s: String => attr -> s
            }
          case _ => None
        }
      }
    }
    conjuncts(normalize(
      org.apache.spark.sql.GraftColumnBridge.expression(cond))).flatMap {
      case TokenPredicate(attr, tok) => Some(attr -> tok)
      case _ => None
    }
  }

  /** Character n-gram width shared by the n-gram-bloom sidecar writer
    * and `ngramProbes` (ClickHouse `ngrambf_v1(3, …)`). A substring
    * match requires EVERY length-3 window of the pattern to occur in
    * the value, which is what makes pruning on any absent window sound.
    */
  val NgramWidth = 3

  /** Top-level-conjunct SUBSTRING probes `(column, pattern)` — the shape
    * an n-gram Bloom skip index can test: `col.contains(pat)` /
    * `col LIKE '%pat%'` with a wildcard-free inner pattern. Soundness:
    * a row matching the predicate must contain `pat` verbatim, hence
    * every one of its 3-grams; a part whose bloom proves any 3-gram
    * absent cannot hold a matching row. Patterns shorter than the gram
    * width produce no probe (nothing to test). Anything under an OR is
    * ignored.
    */
  def ngramProbes(cond: Column): Seq[(String, String)] = {
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def litStr(e: ce.Expression): Option[String] = foldedValue(e).collect {
      case u: UTF8String => u.toString
      case s: String => s
    }
    conjuncts(normalize(
      org.apache.spark.sql.GraftColumnBridge.expression(cond))).flatMap {
      case ce.Contains(a, v) =>
        for (n <- attrName(a); p <- litStr(v) if p.length >= NgramWidth)
          yield n -> p
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.length == 1 &&
            f.nameParts.head.equalsIgnoreCase("contains") &&
            f.arguments.size == 2 =>
        for (n <- attrName(f.arguments.head);
             p <- litStr(f.arguments(1)) if p.length >= NgramWidth)
          yield n -> p
      case l: ce.Like =>
        likeProbe(attrName(l.left), litStr(l.right), l.escapeChar)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.length == 1 &&
            f.nameParts.head.equalsIgnoreCase("like") &&
            f.arguments.size >= 2 =>
        val esc = if (f.arguments.size >= 3)
          litStr(f.arguments(2)).filter(_.length == 1)
            .map(_.charAt(0)).getOrElse('\\')
        else '\\'
        likeProbe(attrName(f.arguments.head), litStr(f.arguments(1)), esc)
      case _ => None
    }
  }

  /** The pure-contains LIKE shape `%literal%` with no inner wildcards
    * or escapes — anything else never prunes.
    */
  private def likeProbe(attr: Option[String], pat: Option[String],
      escapeChar: Char): Option[(String, String)] =
    for {
      n <- attr
      raw <- pat
      if raw.length >= NgramWidth + 2 &&
        raw.startsWith("%") && raw.endsWith("%") && {
          val inner = raw.substring(1, raw.length - 1)
          !inner.exists(c => c == '%' || c == '_' || c == escapeChar)
        }
    } yield n -> raw.substring(1, raw.length - 1)

  /** Top-level-conjunct IN probes `(column, external values)` — the set
    * skip index can reject a part when EVERY listed value is absent from
    * its exact value set (a bloom cannot: each value needs its own
    * membership test, which `equalityProbes` already covers for `=`).
    * Same conservatism as `equalityProbes`: only `col IN (literals...)`
    * conjuncts qualify; any non-foldable element disqualifies the list.
    */
  def inProbes(cond: Column): Seq[(String, Seq[Any])] = {
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def external(v: Any): Any = v match {
      case u: UTF8String => u.toString
      case x => x
    }
    conjuncts(normalize(
      org.apache.spark.sql.GraftColumnBridge.expression(cond))).flatMap {
      case ce.In(a, vs) if vs.nonEmpty =>
        attrName(a).flatMap { name =>
          val folded = vs.map(foldedValue)
          if (folded.forall(_.isDefined))
            Some(name -> folded.map(f => external(f.get)))
          else None
        }
      case _ => None
    }
  }

  // ------------------------------------------------- V1 source filters

  /** Prune test for `org.apache.spark.sql.sources.Filter` trees — the
    * form Catalyst pushes into a `PrunedFilteredScan` (GraftDataSource).
    * Same conservative semantics as the Column walker, but values arrive
    * as EXTERNAL types (java.sql.Timestamp/Date, Instant/LocalDate) and
    * are converted to the log's internal micros/days encodings first.
    */
  def canPrune(f: org.apache.spark.sql.sources.Filter,
      st: Map[String, ColStats]): Boolean = {
    import org.apache.spark.sql.{sources => sf}
    def cmpOf(attr: String, v: Any): Option[(Int, Int)] =
      for {
        cs <- st.get(attr)
        x <- externalValue(v)
        c <- toCmp(cs, x)
      } yield c
    f match {
      case sf.And(l, r) => canPrune(l, st) || canPrune(r, st)
      case sf.Or(l, r) => canPrune(l, st) && canPrune(r, st)
      case sf.EqualTo(a, v) =>
        cmpOf(a, v).exists { case (mn, mx) => mn > 0 || mx < 0 }
      case sf.EqualNullSafe(a, v) if v != null =>
        cmpOf(a, v).exists { case (mn, mx) => mn > 0 || mx < 0 }
      case sf.LessThan(a, v) => cmpOf(a, v).exists { case (mn, _) => mn >= 0 }
      case sf.LessThanOrEqual(a, v) => cmpOf(a, v).exists { case (mn, _) => mn > 0 }
      case sf.GreaterThan(a, v) => cmpOf(a, v).exists { case (_, mx) => mx <= 0 }
      case sf.GreaterThanOrEqual(a, v) => cmpOf(a, v).exists { case (_, mx) => mx < 0 }
      case sf.In(a, vs) =>
        vs.nonEmpty && vs.forall(v =>
          cmpOf(a, v).exists { case (mn, mx) => mn > 0 || mx < 0 })
      case _ => false
    }
  }

  /** External (Row-level) value → the comparable the stats use. */
  private def externalValue(v: Any): Option[Any] = v match {
    case null => None
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d))
    case other => Some(other)
  }

  private def attrName(e: ce.Expression): Option[String] = e match {
    case a: ce.AttributeReference => Some(a.name)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if u.nameParts.length == 1 => Some(u.nameParts.head)
    case _ => None
  }

  /** Evaluate a foldable literal side; gives unresolved time-zone-aware
    * casts the session zone first (Column-built `lit(..).cast(..)`).
    */
  private def foldedValue(e: ce.Expression): Option[Any] = {
    val withTz = e.transformUp {
      case tz: ce.TimeZoneAwareExpression if tz.timeZoneId.isEmpty =>
        tz.withTimeZone(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    }
    if (withTz.resolved && withTz.foldable)
      scala.util.Try(withTz.eval(ce.EmptyRow)).toOption.filter(_ != null)
    else None
  }

  /** Decide prunability of `attr OP value` given file [min, max]. When
    * `flipped`, the original predicate was `value OP attr`.
    */
  private def compPrunable(cmp: ce.BinaryComparison, attr: String, v: Any,
      st: Map[String, ColStats], flipped: Boolean): Boolean =
    st.get(attr).exists { cs =>
      toCmp(cs, v) match {
        case None => false
        case Some((minC, maxC)) =>
          // minC = compare(min, v), maxC = compare(max, v)
          cmp match {
            case _: ce.EqualTo | _: ce.EqualNullSafe => minC > 0 || maxC < 0
            case _: ce.LessThan => if (flipped) maxC <= 0 else minC >= 0
            case _: ce.LessThanOrEqual => if (flipped) maxC < 0 else minC > 0
            case _: ce.GreaterThan => if (flipped) minC >= 0 else maxC <= 0
            case _: ce.GreaterThanOrEqual => if (flipped) minC > 0 else maxC < 0
            case _ => false
          }
      }
    }

  private def outside(cs: ColStats, v: Any): Boolean =
    toCmp(cs, v).exists { case (minC, maxC) => minC > 0 || maxC < 0 }

  /** (compare(min, v), compare(max, v)), or None when the literal's type
    * doesn't line up with the recorded stat type.
    */
  private def toCmp(cs: ColStats, v: Any): Option[(Int, Int)] = cs.typ match {
    case "string" =>
      val s = v match {
        case u: UTF8String => Some(u.toString)
        case s: String => Some(s)
        case _ => None
      }
      s.map(x => (cs.min.compareTo(x), cs.max.compareTo(x)))
    case _ => // long / double stats vs any numeric literal, via BigDecimal
      numeric(v).map { x =>
        (BigDecimal(cs.min).compare(x), BigDecimal(cs.max).compare(x))
      }
  }

  private def numeric(v: Any): Option[BigDecimal] = v match {
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case s: Short => Some(BigDecimal(s.toInt))
    case b: Byte => Some(BigDecimal(b.toInt))
    case d: Double => Some(BigDecimal(d))
    case f: Float => Some(BigDecimal(f.toDouble))
    case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case _ => None
  }
}
