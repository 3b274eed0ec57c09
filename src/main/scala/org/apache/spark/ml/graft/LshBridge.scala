package org.apache.spark.ml.graft

import org.apache.spark.ml.Model
import org.apache.spark.ml.feature.LSHModel
import org.apache.spark.ml.linalg.Vector

/** An LSH model's own hash values and key distance (Jaccard distance
  * for MinHash, Euclidean for bucketed random projection).
  *
  * `LSHModel` is `private[ml]` and its `hashFunction` and
  * `keyDistance` are `protected[ml]`, hence this bridge inside the
  * `org.apache.spark.ml` namespace (the [[SummaryBridge]] pattern). It
  * lets [[graft.ops.Pairs.lshJoin]] band and verify pairs with exactly
  * the functions MLlib's own similarity join uses. No Spark internals
  * are modified. */
object LshBridge {
  /** The model's input vector column. */
  def inputCol(model: Model[_]): String = lsh(model).getInputCol

  /** One value per hash table: the single entry of each hash vector
    * `model.transform` writes. */
  def hashValues(model: Model[_]): Vector => Array[Double] = {
    val m = lsh(model)
    v => m.hashFunction(v).map(_(0))
  }

  def keyDistance(model: Model[_]): (Vector, Vector) => Double = {
    val m = lsh(model)
    (x, y) => m.keyDistance(x, y)
  }

  private def lsh(model: Model[_]): LSHModel[_] = model match {
    case m: LSHModel[_] => m
    case other => throw new IllegalArgumentException(
      s"not an LSH model: ${other.getClass.getName}")
  }
}
