package graft.index

/** graft's own shard-ranking rule, for the benchmark's kernel-share
  * span: the shard `LocalSharded.search` ranks first is the one whose
  * pivot set is nearest to the query. `VamanaIndex.pivotDist` is
  * private to graft. */
object GraftBenchRouting {
  def pivotDist(q: Array[Float], pivots: Array[Array[Float]]): Double =
    VamanaIndex.pivotDist(q, pivots)
}
