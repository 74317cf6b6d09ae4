package graft
package queries

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A registered query's DuckDB oracle, or the reason it has none. */
sealed trait Oracle
final case class OracleSql(sql: String) extends Oracle
final case class NoOracle(reason: String) extends Oracle

/** One registered query: its `qNNN_…` name, its builder over a parquet
  * directory, its oracle and whether the bench times it. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    bench: Boolean) {

  /** The `NNN` of the name. */
  def number: Int = name.drop(1).takeWhile(_.isDigit).toInt
}

/** A query family. Its object registers each query with [[query]] right
  * after the builder; the object a query lives in is its family. */
trait QueryFamily {
  private val registered = ArrayBuffer.empty[QueryDef]

  /** This family's queries, in registration order. */
  final def defs: Seq[QueryDef] = registered.toSeq

  protected final def query(
      name: String, build: (SparkSession, String) => DataFrame,
      bench: Boolean, oracle: Oracle): Unit =
    registered += QueryDef(name, build, oracle, bench)
}

/** The registered query catalog: one entry per operator family from
  * SURVEY.md §2 plus the LLM-data-pipeline operators (dedup / ANN / text
  * analysis), each runnable on the driver's parquet tables and — where the
  * semantics are SQL-expressible — paired with a DuckDB oracle.
  *
  * Determinism rules (the driver hash-compares values):
  *  - every query ends in an explicit ORDER BY mirrored in the oracle;
  *  - float aggregates go through DECIMAL (exact, engine-independent) and are
  *    cast back to double; pass-through doubles and single IEEE ops (one
  *    division, fixed-order additions) are bit-stable across engines;
  *  - counts are long on both sides (oracle casts DuckDB HUGEINT sums).
  */
object Queries {

  /** Every registered query, in query-number order. */
  val defs: Seq[QueryDef] = Seq(
    RelationalQueries, ChoirQueries, TextQueries, DedupQueries, AnnQueries,
    GraphQueries, GraphMaintenanceQueries, EventQueries, SketchQueries,
    StreamingQueries).flatMap(_.defs).sortBy(_.number)

  val all: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.build).toMap

  val oracles: Map[String, String] =
    defs.collect { case QueryDef(name, _, OracleSql(sql), _) => name -> sql }.toMap

  /** The benched names, in query-number order: the headline subset. Fixture
    * twins (16-row frames time the JVM, not the engine), recall reports
    * (they re-run kernels the bench already times) and streaming queries
    * (they time the micro-batch harness) stay out. */
  val bench: Seq[String] = defs.filter(_.bench).map(_.name)
}
