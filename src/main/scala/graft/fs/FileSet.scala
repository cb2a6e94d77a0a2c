package graft.fs

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Which file versions a plan reads: the one definition behind every
  * key of "what was computed from these inputs" (the serving memo, the
  * report pass). */
object FileSet {
  /** One file a plan reads: (path, length, mtime). */
  type FileKey = (String, Long, Long)

  /** The files every `HadoopFsRelation` leaf of `plan` reads; other
    * leaves add nothing. A file overwritten in place changes its
    * length or mtime (and a rewritten dir its part names), so a key
    * holding this set misses where plan canonicalization alone would
    * not: `InMemoryFileIndex` equality compares only root paths. The
    * listing is the one each relation already holds, so this is a
    * driver-side walk. Pass the analyzed plan: a cached frame's
    * `inputFiles` reads empty. */
  def of(plan: LogicalPlan): Set[FileKey] =
    plan.collectLeaves().iterator
      .collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h }
      .flatMap(_.location.listFiles(Nil, Nil)).flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
}
