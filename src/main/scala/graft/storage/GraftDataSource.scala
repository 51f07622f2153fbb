package graft.storage

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider}
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft")` / `CREATE TABLE ... USING graft` over a
  * transaction-logged FactTable — the SQL-integration surface on top of
  * the programmatic `FactTable.read/readWhere` API.
  *
  * Implemented as a V1 `PrunedFilteredScan` deliberately: Catalyst pushes
  * column pruning and every conjunct of the WHERE clause into
  * `buildScan`, where the filters drive log-stats FILE skipping
  * (StatsPruning) before any parquet footer is opened — the automatic
  * analog of what `readWhere` does for hand-passed predicates. Spark
  * re-applies all pushed filters on top (V1 filters are advisory), so a
  * conservative prune can never change results. Options:
  *
  *   - `path`         table root (also the `load(path)` argument)
  *   - `versionAsOf`  optional time travel to an earlier log version
  *   - `bloomCols`    comma list of bloom-indexed columns: equality
  *                    filters additionally consult the parts' bloom
  *                    sidecars (the writer must have declared the same
  *                    columns — sidecars are written at commit time)
  *   - `setIndexCols` comma list of set-indexed columns: equality and
  *                    IN filters consult the exact-value-set sidecars
  */
class GraftDataSource extends RelationProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft data source requires a 'path' option"))
    val asOf = parameters.get("versionAsOf").map(_.toLong).getOrElse(Long.MaxValue)
    def cols(k: String) = parameters.get(k)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    new GraftRelation(root, asOf, sqlContext.sparkSession,
      cols("bloomCols"), cols("setIndexCols"))
  }
}

object GraftRelation {
  /** (root, kept files, total files) of the most recent scan — plan-shape
    * observability for tests asserting that pushdown actually skipped.
    */
  @volatile var lastPrune: Option[(String, Int, Int)] = None
}

class GraftRelation(root: String, asOf: Long, spark: SparkSession,
    bloomCols: Seq[String] = Nil, setIndexCols: Seq[String] = Nil)
    extends BaseRelation with PrunedFilteredScan {

  private val table = new FactTable(root, spark, bloomCols,
    Nil, setIndexCols)

  /** V1 filters re-expressed as Column conds for the sidecar prune
    * tests — only the exact shapes the sidecars can answer (equality,
    * IN over literals); everything else is None and never prunes.
    */
  private def sidecarCond(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.{sources => sf}
    import org.apache.spark.sql.functions.lit
    f match {
      case sf.EqualTo(a, v) => Some(col(a) === lit(v))
      case sf.EqualNullSafe(a, v) if v != null => Some(col(a) === lit(v))
      case sf.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        Some(col(a).isin(vs.toIndexedSeq: _*))
      case _ => None
    }
  }

  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = table.schemaOf(table.snapshot(asOf))

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val snap = table.snapshot(asOf)
    val files = snap.dataFiles
    val conds = filters.flatMap(sidecarCond)
    val kept = files.filterNot(f =>
      filters.exists(fl => StatsPruning.canPrune(fl, f.stats)) ||
        conds.exists(c => table.sidecarPruned(c, f)))
    GraftRelation.lastPrune = Some((root, kept.size, files.size))
    // the scan reads the table schema, so a pruned subset of only
    // pre-evolution files still resolves an added column (as NULL);
    // reads go through the tombstone mask (pending soft deletes)
    if (kept.isEmpty) spark.sparkContext.emptyRDD[Row]
    else table.masked(kept, snap)
      .select(requiredColumns.toIndexedSeq.map(col): _*).rdd
  }
}
