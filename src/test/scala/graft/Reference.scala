package graft

import graft.core.Observed
import graft.textops.{Dedup, HashFamily, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference implementations the specs compare production operators
  * against. Each is the simple relational form of an operator whose
  * production form is faster but harder to read; none is used by the
  * engine itself.
  */
object Reference {

  /** The DataFrame MinHash LSH banding formula that
    * [[graft.textops.MinhashBandKeys]] replays bit for bit: the
    * distinct (id, shingle) relation, `numHashes` permutation hashes
    * pmod(pmod(shingle, p)·a_i + b_i, p) min-reduced per document by a
    * `groupBy(id)`, then band j's key is the family hash of signature
    * entries j·r..j·r+r−1 (Xx64 hashes the long slice; Md5Portable
    * hashes the comma-joined decimal string). Returns (id, band, key);
    * documents with fewer than `shingleN` tokens produce no rows.
    */
  def bandSignatures(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, numHashes: Int = 64,
                     bands: Int = 16,
                     family: HashFamily = HashFamily.Xx64): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val p = Dedup.MinhashPrime
    val sh = TextFunctions.shingleTable(df, idCol, textCol, shingleN, family)
      .withColumn("h", pmod(col("shingle"), lit(p)))
    val mins = Dedup.minhashCoefficients(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(p))).as(s"_m$i")
    }
    val slice = s"slice(sig, j * $r + 1, $r)"
    val key = family match {
      case HashFamily.Xx64 => s"xxhash64($slice)"
      case HashFamily.Md5Portable =>
        s"CAST(conv(substring(md5(array_join(transform($slice, x -> CAST(x AS STRING)), ',')), 1, 15), 16, 10) AS BIGINT)"
    }
    sh.groupBy(idCol)
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"))
      .select(col(idCol),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), j -> $key)")).as(Seq("band", "key")))
  }

  /** Connected components by iterative min-label propagation, the
    * Pregel pattern in DataFrames: each round unions the neighbours'
    * labels with the node's own and keeps the minimum. Simpler per
    * round than [[graft.textops.Dedup.connectedComponents]]'s star
    * contraction, but it needs as many rounds as the component
    * diameter, so a chain of n nodes takes O(n) rounds. A round that
    * changes no label ends the loop (an `observe` counter collected by
    * the round's checkpoint); a loop that hits `maxIter` throws.
    *
    * Returns (node, label) where label = min node id in the component.
    */
  def connectedComponentsPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                                   maxIter: Int = 20): DataFrame = {
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val fromNbrs = und.join(labels, und("dst") === labels("node"))
        .select(und("src").as("node"), col("label"), lit(false).as("own"))
      // the node's previous label is the min over its own=true row
      val merged = labels.withColumn("own", lit(true)).unionByName(fromNbrs)
        .groupBy("node")
        .agg(min("label").as("label"),
          min(when(col("own"), col("label"))).as("_old"))
      val obs = org.apache.spark.sql.Observation()
      labels = merged
        .observe(obs, sum(when(col("label") =!= col("_old"), 1L).otherwise(0L))
          .as("changed"))
        .select("node", "label")
        .localCheckpoint()
      // a null sum means an empty graph: converged
      converged = Observed.long(obs, "changed", "connectedComponentsPropagate")
        .getOrElse(0L) == 0L
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsPropagate did not converge within $maxIter iterations")
    labels
  }
}
