package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{StringType, TimestampType}

/** Analyzer rule (injected via `SparkSessionExtensions
  * .injectResolutionRule`, the public Delta path-table idiom): a
  * `graft.`/path`` reference inside ANY plain SQL query resolves
  * directly to the manifest-pruned snapshot relation — no
  * registration step:
  *
  *   SELECT … FROM graft.`/data/events` WHERE …
  *   SELECT … FROM graft.`/data/events` VERSION AS OF 7
  *   SELECT … FROM graft.`/data/events` TIMESTAMP AS OF '2026-08-15'
  *
  * The relation is the same [[SnapshotSql.dataFrame]] every other SQL
  * surface uses (manifest stats/Bloom file pruning, deletion-vector
  * masking, column mapping — pushed filters reach file pruning).
  * Time travel resolves VERSION AS OF directly and TIMESTAMP AS OF
  * through the monotonicity-adjusted commit timeline
  * ([[SnapshotTable.versionAtTimestamp]]).
  *
  * The rule fires ONLY for two-part identifiers whose first part is
  * `graft` and whose second names a directory with a committed
  * manifest; everything else is left untouched for Spark's own
  * resolution (a `graft` reference to a nonexistent table falls
  * through to Spark's TABLE_OR_VIEW_NOT_FOUND). */
class GraftRelationResolution(spark: SparkSession)
    extends Rule[LogicalPlan] {

  /** The table `u` names and its head version, when it is a graft
    * table: detecting it IS resolving its head. */
  private def headOf(u: UnresolvedRelation): Option[(String, Long)] =
    u.multipartIdentifier match {
      case Seq(cat, path) if cat.equalsIgnoreCase("graft") =>
        scala.util.Try(SnapshotTable.latestVersion(spark, path)).toOption
          .flatten.map(path -> _)
      case _ => None
    }

  private def snapshot(dir: String, v: Long): LogicalPlan =
    SnapshotSql.dataFrame(spark, dir,
      SnapshotTable.snapshot(spark, dir, Some(v), "SnapshotSql"))
      .queryExecution.analyzed

  private def tsMillis(e: org.apache.spark.sql.catalyst.expressions
      .Expression): Long = e match {
    case Literal(v, TimestampType) => v.asInstanceOf[Long] / 1000L
    case Literal(s, StringType) =>
      val t = s.toString
      scala.util.Try(java.sql.Timestamp.valueOf(t).getTime).getOrElse(
        java.sql.Date.valueOf(t).getTime)
    case other if other.foldable =>
      other.dataType match {
        case TimestampType => other.eval().asInstanceOf[Long] / 1000L
        case _ => tsMillis(Literal(other.eval(), other.dataType))
      }
    case other => throw new IllegalArgumentException(
      s"graft TIMESTAMP AS OF expects a literal timestamp, got: $other")
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version) =>
        headOf(u) match {
          case None => tt
          case Some((dir, _)) => version match {
            case Some(v) => snapshot(dir, v.toLong)
            case None =>
              val millis = tsMillis(ts.getOrElse(
                throw new IllegalArgumentException(
                  "graft time travel needs VERSION AS OF or TIMESTAMP AS OF")))
              snapshot(dir,
                SnapshotTable.versionAtTimestamp(spark, dir, millis))
          }
        }
      case u: UnresolvedRelation =>
        headOf(u).map { case (dir, head) => snapshot(dir, head) }.getOrElse(u)
    }
}
