package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Ann

/** SemDeDup properties the e11 oracle gate cannot express: the synthetic
  * near-duplicates are actually detected, the kept/n_dups/dup_lo triple is
  * internally consistent, the tau threshold is monotone (stricter tau
  * removes at most as much), and the maxCluster quadratic guard refuses
  * loudly instead of scanning an oversized cluster. */
class SemDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def corpus = {
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val dups = base.where(col("vec_id") < 40).select(
      (col("vec_id") + 1000).as("vec_id"),
      concat(array(element_at(col("e"), 1) * lit(1.5)),
        slice(col("e"), 2, 63)).as("e"))
    base.unionByName(dups)
  }

  private def run(tauU: Long) =
    Ann.semDedup(corpus, "vec_id", "e", k = 8, iters = 2, tauU = tauU,
      trainCap = 250)

  test("perturbed near-duplicates are removed, originals kept") {
    val r = run(950000L)
    // a removed dup points at a lower-id keeper in its cluster; every
    // synthetic dup that shares its source's cluster must be removed and
    // point at exactly that source
    val removedDups = r.where(col("vec_id") >= 1000 && col("kept") === 0)
    assert(removedDups.count() >= 30)   // ~all 40 land with their source
    val wrongKeeper = removedDups
      .where(col("dup_lo") =!= col("vec_id") - 1000).count()
    assert(wrongKeeper == 0)
    // no natural pair reaches 0.95 (max natural cosine ≈ 0.51)
    assert(r.where(col("vec_id") < 1000 && col("kept") === 0).count() == 0)
  }

  test("kept/n_dups/dup_lo are consistent") {
    val r = run(950000L)
    assert(r.where(col("kept") === 1 &&
      (col("n_dups") =!= 0 || col("dup_lo") =!= col("vec_id"))).count() == 0)
    assert(r.where(col("kept") === 0 &&
      (col("n_dups") < 1 || col("dup_lo") >= col("vec_id"))).count() == 0)
  }

  test("tau is monotone: stricter threshold removes at most as much") {
    val loose = run(900000L).where(col("kept") === 0).count()
    val strict = run(999000L).where(col("kept") === 0).count()
    assert(strict <= loose)
  }

  test("the full-corpus assignment cache is released: no cached plan holds the embeddings") {
    def cachedRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = cachedRdds
    val r = Ann.semDedup(corpus, "vec_id", "e", k = 8, iters = 2, tauU = 950000L, trainCap = 250)
    // the one cache semDedup leaves is its own small per-vector result
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val kept = cm.lookupCachedData(r.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(kept.map(_.cachedRepresentation.output.map(_.name)) ==
      Some(Seq("vec_id", "cid", "kept", "n_dups", "dup_lo")))
    assert((cachedRdds -- before).size == 1)
    r.unpersist(blocking = true)
    assert((cachedRdds -- before).isEmpty)
  }

  test("maxCluster guard refuses a quadratic cluster loudly") {
    val e = intercept[IllegalArgumentException] {
      Ann.semDedup(corpus, "vec_id", "e", k = 8, iters = 2,
        tauU = 950000L, trainCap = 250, maxCluster = 10)
    }
    assert(e.getMessage.contains("maxCluster"))
  }
}
