package graft

import org.apache.spark.sql.functions.{asc, desc}
import graft.query.{Hit, Query, ScoredDoc, Searcher}

/** The unpruned reference answers: `Searcher.compile` (which reads the
  * alive views, so tombstoned docs never match) + a global sort by (score
  * desc, segId asc, docId asc).
  * The collectors route eligible shapes to the WAND and leapfrog executors,
  * so a parity test compares those executors against this route, never
  * against `topDocs` of the same shape.
  */
object CompileRoute {
  def topK(sr: Searcher, q: Query, k: Int): Array[Hit] = {
    import sr.spark.implicits._
    sr.compile(q)
      .orderBy(desc("score"), asc("segId"), asc("docId"))
      .limit(k).as[ScoredDoc].collect()
      .map(s => Hit(s.segId, s.docId, s.score))
  }
}
