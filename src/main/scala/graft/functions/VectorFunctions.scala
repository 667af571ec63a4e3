package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.annotation.nowarn

/** Vector math over `ArrayType(FloatType|DoubleType)` embedding columns.
  *
  * Everything here is built from Spark higher-order functions (`zip_with`,
  * `aggregate`, `transform`) — pure Catalyst expressions, so they stay
  * inside whole-stage codegen and never block predicate pushdown the way a
  * Scala UDF would. At 100 TB this is the difference between a fused
  * columnar scan pipeline and a per-row serialization wall.
  *
  * All math is done in double precision regardless of input element type
  * (float arrays are upcast element-wise) so results are deterministic and
  * comparable across engines.
  */
object VectorFunctions {

  /** Dot product of two equal-length numeric array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity in [-1, 1]; null-safe on zero vectors (returns
    * null). Dispatches to the native codegen expression
    * ([[CosineSimilarity]]) — bit-identical to [[cosineHof]] but a fused
    * compiled loop instead of interpreted lambdas.
    */
  def cosine(a: Column, b: Column): Column = CosineSimilarity(a, b)

  /** Pure higher-order-function cosine — the portable reference
    * formulation (identical math, element-wise double upcast, sequential
    * sums). Kept as the differential-test witness for the native
    * expression.
    */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0d, lit(null).cast("double")).otherwise(dot(a, b) / denom)
  }

  /** Squared euclidean distance. */
  def squaredDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0d), (acc, x) => acc + x)

  def euclidean(a: Column, b: Column): Column = sqrt(squaredDistance(a, b))

  /** Unit-normalize a vector (element-wise divide by its L2 norm). */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    transform(a, x => x.cast("double") / n)
  }

  /** Coarse LSH bucket for cosine similarity: sign bits of the vector's
    * projection onto `nPlanes` deterministic pseudo-random hyperplanes.
    *
    * The hyperplane components are derived from a seeded hash of
    * (plane, dim) — no RNG state, so buckets are reproducible across runs
    * and engines. Used to pre-partition ANN search so the cross join only
    * happens within a bucket (the 100 TB path; brute force stays the
    * correctness baseline).
    *
    * The plane components ride as ONE array literal (`typedLit`, a single
    * plan node with a data payload) folded by HOFs — the unrolled
    * formulation this replaces built a dim × nPlanes `element_at` sum
    * TREE in the plan, which chokes the planner at dim ≥ 512 (the r7
    * review's `signBucket` scale note; the Clustering.assign literal-gate
    * precedent). Arithmetic is bit-identical: per plane, the projection
    * is the same left-to-right sequential double sum over dims 1..dim
    * (pinned by `SignBucketSpec` against the unrolled witness, including
    * a dim-512 smoke case).
    *
    * `MurmurHash3.productHash` is deprecated in favor of `caseClassHash`,
    * but the two produce DIFFERENT values and these signs are a frozen
    * cross-engine contract (the DuckDB oracle bakes the identical signs
    * at SQL-generation time and persisted sign-bucket indexes embed
    * them) — migrating would silently re-bucket every vector.
    */
  @nowarn("cat=deprecation")
  def signBucket(vec: Column, nPlanes: Int, dim: Int, seed: Int = 42): Column = {
    val planes: Seq[Seq[Double]] = (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        val h = scala.util.hashing.MurmurHash3.productHash((p, d, seed))
        if ((h & 1) == 0) 1.0d else -1.0d
      }
    }
    // slice pins exact-dim semantics: a longer vector uses its first
    // `dim` components (as the unrolled element_at form did); a shorter
    // one null-pads through zip_with → null projection → bit 0, ditto
    val v = slice(vec, 1, dim)
    val projs = transform(typedLit(planes), p =>
      aggregate(zip_with(v, p, (x, s) => x.cast("double") * s),
        lit(0.0d), (acc, x) => acc + x))
    val weights = typedLit((0 until nPlanes).map(p => 1 << p))
    aggregate(
      zip_with(projs, weights, (pr, w) => when(pr >= 0.0d, w).otherwise(lit(0))),
      lit(0), (acc, x) => acc + x)
  }

  /** The unrolled per-dim expression-tree formulation of [[signBucket]] —
    * kept ONLY as the differential-test witness (`SignBucketSpec`); its
    * dim × nPlanes plan tree is exactly what the literal+HOF form above
    * exists to avoid.
    */
  @nowarn("cat=deprecation") // same frozen-hash contract as signBucket
  private[graft] def signBucketUnrolled(vec: Column, nPlanes: Int, dim: Int,
                                        seed: Int = 42): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = (0 until dim).map { d =>
        val h = scala.util.hashing.MurmurHash3.productHash((p, d, seed))
        val sgn = if ((h & 1) == 0) 1.0d else -1.0d
        element_at(vec, d + 1).cast("double") * lit(sgn)
      }.reduce(_ + _)
      when(proj >= 0.0d, lit(1)).otherwise(lit(0)) * lit(1 << p)
    }
    bits.reduce(_ + _)
  }
}
