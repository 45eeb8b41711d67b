package graft.tsne

/** Core row types of the t-SNE dataflow (SURVEY.md §1, D1–D4).
  *
  * The reference (tsne-flink) models these as Flink Scala tuples over Breeze
  * vectors (`Tsne.scala:67,139`, `TsneHelpers.scala:198`); here they are plain
  * case classes encoded by Spark's `Encoders.product` so every field is a
  * first-class Catalyst column (ids stay relational, vectors are
  * `ArrayType(DoubleType)`).
  */

/** D1 — COO matrix entry: input coordinates or sparse distance/affinity
  * matrices. For input rows, `i` = point id, `j` = dimension index,
  * `v` = coordinate (ref: `Tsne.scala:141`). */
final case class CooEntry(i: Long, j: Int, v: Double)

/** D2 — a point or embedding row: id + dense vector
  * (ref: `Tsne.scala:139`). */
final case class Point(id: Long, vec: Array[Double])

/** kNN / sparse-matrix triple `(i, j, value)` with point ids on both sides
  * (ref output type of every kNN variant, `TsneHelpers.scala:43`). */
final case class Neighbor(i: Long, j: Long, dist: Double)

/** D3 — one sparse row pᵢ· of the affinity matrix, as parallel arrays of
  * active column ids and values (ref: `Tsne.scala:119-129` builds a Breeze
  * SparseVector; the fake n² capacity there is irrelevant — only the active
  * (j, v) pairs matter). */
final case class AffinityRow(id: Long, js: Array[Long], ps: Array[Double])

/** D4 — optimizer working-set row: embedding position + delta-bar-delta
  * state (ref: `TsneHelpers.scala:198-219`). */
final case class WorkingSet(
    id: Long,
    y: Array[Double],
    lastGrad: Array[Double],
    gains: Array[Double])
