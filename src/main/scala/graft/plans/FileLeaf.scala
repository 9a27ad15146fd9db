package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** A file-scan leaf with its table identity: the comma-joined list of
  * its read roots. A relation composed from several directories is ONE
  * table — keying it by `rootPaths.head` would advise, stage or match a
  * fraction of the data. Every advisor walk, rewrite rule and record
  * that keys a file read by table matches through here, so the rule
  * lives in one place. */
object FileLeaf {
  def unapply(p: LogicalPlan): Option[(LogicalRelation, HadoopFsRelation, String)] = p match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        Some((lr, fs, fs.location.rootPaths.map(_.toString).mkString(",")))
      case _ => None
    }
    case _ => None
  }
}
