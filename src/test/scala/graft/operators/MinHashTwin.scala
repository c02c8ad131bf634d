package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.MinHashKernel

/** The relational oracle twin of [[MinHashLsh.signaturesFromShingles]]:
  * explode the shingles, then one `min(xxhash64(h ⊕ salt_i))` column per
  * permutation. It derives its salts from `Random(Seed)` itself and uses
  * only built-in SQL functions, so it checks the kernel's hashing, minima
  * and salt family independently. Documents with zero shingles get no
  * row. */
object MinHashTwin {

  def signaturesRelational(sh: DataFrame): DataFrame = {
    val r = new scala.util.Random(MinHashKernel.Seed)
    val salts = Seq.fill(MinHashKernel.NPerms)(r.nextLong())
    val minCols = salts.zipWithIndex.map { case (salt, i) =>
      min(xxhash64(col("h").bitwiseXOR(lit(salt)))).as(s"_sig$i")
    }
    sh.select(col("id"), explode(col("shingles")).as("s"))
      .withColumn("h", xxhash64(col("s")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"), minCols: _*)
      .select(
        col("id"), col("n_shingles"),
        array(salts.indices.map(i => col(s"_sig$i")): _*).as("sig"))
  }
}
