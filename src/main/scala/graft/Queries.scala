package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The operator surface exposed through the driver contract: each entry is
  * one operator family from SURVEY.md §2 (or a training-data-pipeline op)
  * expressed over the driver's parquet tables, with an ANSI-SQL oracle
  * where the semantics are SQL-expressible. Each family file under
  * `graft/queries/` states a query's name, build and oracle once, in its
  * [[QueryDef]]; this registry only gathers them.
  *
  * Determinism rules for oracle-checked queries:
  *  - monetary doubles are converted to bigint cents via round(x*100)
  *    before aggregation (associative integer sums — no float-order drift);
  *  - ranking windows always carry a unique tiebreaker;
  *  - floor/rank results are cast to bigint on both sides.
  */
object Queries {

  val defs: Seq[QueryDef] = {
    val ds = Seq(RelationalQueries.defs, RewriteQueries.defs, IndexQueries.defs,
      StoreQueries.defs, TraceQueries.defs, CurationQueries.defs,
      SpanQueries.defs, CloneQueries.defs, NearDupQueries.defs,
      MediaQueries.defs, EmbeddingQueries.defs).flatten
    val dup = ds.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query names registered twice: ${dup.mkString(", ")}")
    ds
  }

  val all: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.build).toMap

  val oracle: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
