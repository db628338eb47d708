package graft

/** Bytes on disk per module, located through the program's own root
  * functions, so the benchmark never restates the store layout. Lives in
  * package `graft` for the package-private spill footprint.
  */
object Footprint {
  /** Each persisted-store module's directories for the fixture dir `d`:
    * the parent of every root the module derives for it. */
  def storeDirs(d: String): Map[String, Seq[java.io.File]] = {
    def parents(roots: String*) = roots.map(r => new java.io.File(r).getParentFile).distinct
    Map(
      "AnnIndex" -> parents(AnnIndex.indexRoot(d)),
      "GraphAnnIndex" -> parents(GraphAnnIndex.indexRoot(d), GraphAnnIndex.baseRoot(d)),
      "KmvStore" -> parents(KmvStore.storeRoot(d)),
      "TokenizerStore" -> parents(TokenizerStore.bpeRoot(d), TokenizerStore.byteRoot(d),
        TokenizerStore.uniRoot(d), TokenizerStore.bpeRetrainRoot(d)))
  }

  /** Bytes currently spilled under this process's `Sources` directory. */
  def spillBytes: Long = Sources.spillFootprint()._2
}
