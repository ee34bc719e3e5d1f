package graft.sketch

/** The mergeable-state contract every sketch keeps — the reference's
  * `BloomFilter.putAll` (`BloomFilter.java:198-207`) plus its serialized
  * form, generalized. `merge` folds a sketch of the same configuration
  * into this one and returns this one; a mismatched configuration fails
  * loudly. `serialize` writes the versioned wire bytes that the family's
  * [[SketchFormat]] reads back. */
trait Mergeable[S <: Mergeable[S]] {
  def merge(other: S): S
  def serialize(): Array[Byte]
}

/** A sketch family's wire format, kept by the family's companion object:
  * `name` is its SQL stem (`hll` in `hll_sketch`, `hll_merge`), and
  * `deserialize` reads what [[Mergeable.serialize]] wrote. Serializable
  * because aggregate expressions that hold it ship to executors. */
trait SketchFormat[S <: Mergeable[S]] extends Serializable {
  def name: String
  def deserialize(bytes: Array[Byte]): S
}
