package graft.perfbench

import graft.api.Collection

/** Which arm of `Collection.searchTopK` answers a query. It lives in
  * package graft because `impactCertifiedTopK` is package-private.
  */
object SearchPath {
  /** True when the impact sidecar certifies the answer, false when
    * `searchTopK` falls back to the full `queryFrame` path. */
  def certified(c: Collection, query: String, k: Int): Boolean =
    c.impactCertifiedTopK(query, k, 0).isDefined
}
