package graft.operators

import org.apache.spark.rdd.RDD

/** Test-only bridge to `private[operators]` members, so specs (package
  * graft) can compare internal structures field-by-field without widening
  * production visibility.
  */
object TestAccess {
  def blocks(g: IvfGraph): RDD[(Int, GraphAnn.Graph)] = g.blocks
  def blocks(g: GraphAnn): RDD[GraphAnn.Graph] = g.blocks
  def blocks(ps: PackedScan): RDD[PackedScan.Block] = ps.blocks
  def model(g: IvfGraph): AnnIndex.Model = g.model
  def packAndBuild(rows: Array[(Long, Array[Float])], m: Int,
      efC: Int): GraphAnn.Graph = GraphAnn.packAndBuild(rows, m, efC)
  def insert(g: GraphAnn.Graph, added: Array[(Long, Array[Float])], m: Int,
      efC: Int): (GraphAnn.Graph, Long) = GraphAnn.insert(g, added, m, efC)
  def searchOne(g: GraphAnn.Graph, q: Array[Float], qnorm: Double,
      ef: Int): (Array[(Long, Double)], Long) = GraphAnn.searchOne(g, q, qnorm, ef)
  def fsOps(cat: Catalog): FsOps = cat.fs
  def sidecarUriCacheSize: Int = Catalog.sidecarUriCache.size
  def sidecarUriCacheHas(tablePath: String): Boolean =
    Catalog.sidecarUriCache.contains(tablePath)
  def sidecarUriCacheEntry(tablePath: String): Option[Set[String]] =
    Catalog.sidecarUriCache.get(tablePath).map(_._2)
  // the raw stored tuple — a cache HIT leaves it referentially intact,
  // a miss `put`s a fresh one, so `eq` across two reads proves the hit
  def sidecarUriCacheRef(tablePath: String): Option[AnyRef] =
    Catalog.sidecarUriCache.get(tablePath)
  // probe-cache keys carry the owning applicationId prefix (the stored
  // broadcast is context-bound) — specs address by table path, so match
  // on the suffix
  def maskProbeRef(tablePath: String): Option[AnyRef] =
    Catalog.maskProbeCache.collectFirst {
      case (k, v) if k.endsWith(":" + tablePath) => v
    }
  def maskProbeEntry(tablePath: String): Option[Map[String, Array[Long]]] =
    maskProbeRef(tablePath).map(
      _.asInstanceOf[(AnyRef,
        org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]])]
        ._2.value)

  /** `seq=N` batch dirs of `tablePath` holding a patch-probe memo entry. */
  def patchProbeBatches(tablePath: String): Set[String] =
    Catalog.patchProbeCache.keys.collect {
      case k if k.contains(tablePath + "/_patches/") => k.substring(k.lastIndexOf('/') + 1)
    }.toSet
}
