package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level vector kernels for similarity search over `array<float>`
  * embedding columns. Built-ins only (zip_with / aggregate HOFs) — stays
  * in codegen; no UDFs.
  *
  * Cross-engine determinism contract: every reduction is a LEFT FOLD in
  * array order (Spark `aggregate` and DuckDB `list_reduce` both fold
  * left), elements are cast float→double (exact) before any arithmetic,
  * and IEEE-754 double ops are deterministic — so Spark and DuckDB
  * produce bit-identical dot products and cosines on the same input.
  */
object VectorKernels {

  /** float[] → double[] (exact widening; keeps later math engine-stable). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-fold sum of a double array, seeded with 0.0. */
  private def fsum(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column = fsum(zip_with(a, b, (x, y) => x * y))

  def norm(a: Column): Column = sqrt(fsum(transform(a, x => x * x)))

  /** Cosine similarity; null-safe on zero vectors via nullif-style guard. */
  def cosine(a: Column, b: Column): Column = {
    val (ad, bd) = (toDouble(a), toDouble(b))
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Cosine of `a` and `b` given their norms `na` and `nb`, computed once
    * per vector as a column of the corpus projection: inside a pairs join
    * cosine then costs one dot product, not three folds (measured 3x on
    * the sf0.1 bench; at 100 TB the norm is a table column you never
    * recompute). Same IEEE ops in the same order as folding the norms
    * inline, so results are bit-identical to [[cosine]] and the DuckDB
    * oracles, which spell out the full cosine, still match exactly. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Deterministic pseudo-random hyperplanes for sign-LSH, derived from
    * md5 so DuckDB can regenerate the identical planes: component i of
    * plane j is nibble(md5("<j>_<i>")) - 7.5 ∈ {-7.5 … +7.5}. Computed
    * driver-side once (tiny: planes × dims doubles) and shipped as
    * literals — never per row. */
  def hyperplane(j: Int, dims: Int): Seq[Double] =
    (0 until dims).map { i =>
      val d   = java.security.MessageDigest.getInstance("MD5").digest(s"${j}_$i".getBytes("UTF-8"))
      val nib = (d(0) >> 4) & 0xF
      nib - 7.5
    }

  /** Sign-LSH bucket id in [0, 2^planes): bit j set iff dot(v, plane_j)>0.
    * Plane components are exact halves, so the fold is engine-stable. */
  def lshBucket(v: Column, planes: Int, dims: Int): Column = {
    val vd = toDouble(v)
    (0 until planes).map { j =>
      val h   = typedLit(hyperplane(j, dims))
      val d   = fsum(zip_with(vd, h, (x, y) => x * y))
      when(d > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Deterministic pseudo-centroids for an IVF-style coarse quantizer,
    * md5-derived like [[hyperplane]] so both engines regenerate them:
    * component i of centroid j is (nibble(md5("c<j>_<i>")) - 7.5) / 8
    * — exact sixteenths, engine-stable doubles. (A production IVF trains
    * centroids with k-means; the operator contract — assign to nearest
    * cell, probe nprobe cells at query time — is what's built here, and a
    * trained codebook drops in as literals the same way.) */
  def centroid(j: Int, dims: Int): Seq[Double] =
    hyperplane(1000 + j, dims).map(_ / 8.0)

  /** Squared L2 distance to a literal centroid (left fold, engine-stable). */
  def dist2(v: Column, c: Seq[Double]): Column =
    aggregate(zip_with(v, typedLit(c), (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)

  // --- integer-quantized space (trained k-means lives here) ---------------
  // Lloyd iterations average vectors, and float summation order differs
  // between engines — so the TRAINED codebook path runs in an integer
  // quantized space where every op (distance, sum, floor-mean) is exact
  // and order-independent in both engines.

  /** Quantize to integers at ×2000: floor(x·2000 + 0.5). floor, not
    * round — Spark's round is HALF_UP, DuckDB's HALF_EVEN, and float
    * components can land exactly on .5; floor(+0.5) is identical in
    * both. ×2000 keeps the seeded init centroids (.5-granular sixteenths)
    * exactly representable. */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 2000.0 + 0.5).cast("long"))

  /** [[centroid]] j in the quantized space — exact: (nibble − 7.5)·250. */
  def intCentroid(j: Int, dims: Int): Seq[Long] =
    centroid(j, dims).map(c => math.round(c * 2000.0))

  /** Integer squared L2 distance to a literal quantized centroid (exact
    * int64; max term 16000²·64 ≪ 2^63, no ANSI overflow). */
  def intDist2(q: Column, c: Seq[Long]): Column =
    aggregate(zip_with(q, typedLit(c), (x, y) => (x - y) * (x - y)), lit(0L), (a, x) => a + x)

  /** [[intDist2]] between two quantized vector COLUMNS (exact int64). */
  def intDist2c(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (s, x) => s + x)

  // --- index-size rules ----------------------------------------------------
  // Shared by Spark and the DuckDB oracle, integer-exact on purpose: fp
  // log2 could round differently across engines at power-of-two corpus
  // sizes. Both engines derive them from count(*) of the same table, so
  // the index grows with the corpus (the "at 1000x the data you add
  // planes, not machines^2" knob the fixed constants lacked).

  /** Smallest p in [4, 12] with corpus ≤ 64·2^p (≈64 vectors/bucket). */
  def planesFor(n: Long): Int = (4 to 12).find(p => n <= (64L << p)).getOrElse(12)

  /** Smallest power of two in {8, 16, 32} with corpus ≤ 128·cells
    * (≈128 vectors/cell; 32 cells ⇒ re-train with a bigger codebook). */
  def cellsFor(n: Long): Int = Seq(8, 16, 32).find(c => n <= 128L * c).getOrElse(32)

  /** Project per-row squared distances to the first `cells` centroids as
    * NAMED columns d0..d{cells-1}. Conditional `when` branches are not
    * subexpression-eliminated by codegen, so argmin logic must read these
    * named columns instead of re-deriving the 64-dim folds inside every
    * branch (the old inline form evaluated each fold up to ~2·cells
    * times per row). */
  def withCellDistances(df: DataFrame, v: String, cells: Int, dims: Int): DataFrame =
    (0 until cells).foldLeft(df)((d, j) => d.withColumn(s"d$j", dist2(col(v), centroid(j, dims))))

  /** (index of the smallest of `ds`, that smallest value); ties go to the
    * first, i.e. the smallest index. */
  def argmin(ds: Seq[Column]): (Column, Column) = {
    val dmin = least(ds: _*)
    (ds.zipWithIndex.foldRight(lit(-1L)) { case ((d, j), acc) =>
      when(d === dmin, lit(j.toLong)).otherwise(acc)
    }, dmin)
  }

  /** IVF cell assignment from the named d0..d{cells-1} columns: index of
    * the nearest centroid (first-wins tie-break). */
  def cellFromDistances(cells: Int): Column =
    argmin((0 until cells).map(j => col(s"d$j")))._1

  /** Second probe cell from the named distance columns: nearest centroid
    * excluding `cell` (first-wins). */
  def secondCellFromDistances(cells: Int, cell: Column): Column =
    argmin((0 until cells).map(j =>
      when(lit(j.toLong) === cell, lit(Double.PositiveInfinity)).otherwise(col(s"d$j"))))._1

  /** DuckDB SQL twins. `e` is a list-typed SQL expression. */
  object Dk {
    def dot(a: String, b: String, dims: Int): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, [$a[i]::DOUBLE * $b[i]::DOUBLE for i in generate_series(1, $dims)]), (x, y) -> x + y)"

    def norm(a: String, dims: Int): String = s"sqrt(${dot(a, a, dims)})"

    def cosine(a: String, b: String, dims: Int): String =
      s"(${dot(a, b, dims)} / (${norm(a, dims)} * ${norm(b, dims)}))"

    /** Plane j literal as a DuckDB list expression (regenerated via md5 so
      * the oracle is self-contained — but we inline the computed doubles;
      * halves print exactly). */
    def planeLit(j: Int, dims: Int): String =
      hyperplane(j, dims).map(d => f"$d%.1f").mkString("[", ",", "]")

    def lshBucket(v: String, planes: Int, dims: Int): String =
      (0 until planes).map { j =>
        s"(case when ${dot(v, s"(${planeLit(j, dims)})", dims)} > 0 then ${1L << j} else 0 end)"
      }.mkString("(", " + ", ")::BIGINT")

    /** Centroid j as a DuckDB list literal (values are exact sixteenths,
      * so 4 decimals round-trips them exactly). */
    def centroidLit(j: Int, dims: Int): String =
      centroid(j, dims).map(d => f"$d%.4f").mkString("[", ",", "]")

    /** Squared L2 distance of list expression `v` to centroid j. */
    def dist2(v: String, j: Int, dims: Int): String = {
      val c = s"(${centroidLit(j, dims)})"
      s"list_reduce(list_prepend(0.0::DOUBLE, " +
        s"[($v[i]::DOUBLE - $c[i]) * ($v[i]::DOUBLE - $c[i]) for i in generate_series(1, $dims)]), " +
        "(x, y) -> x + y)"
    }

    /** [[VectorKernels.quantize]] twin: list of BIGINT. */
    def quantize(v: String, dims: Int): String =
      s"[floor($v[i]::DOUBLE * 2000 + 0.5)::BIGINT for i in generate_series(1, $dims)]"

    /** [[VectorKernels.intDist2]] twin over two list-typed expressions. */
    def intDist2(q: String, c: String, dims: Int): String =
      s"list_reduce(list_prepend(0::BIGINT, " +
        s"[($q[i] - $c[i]) * ($q[i] - $c[i]) for i in generate_series(1, $dims)]), (a, b) -> a + b)"

    /** [[VectorKernels.planesFor]] as a SQL CASE over a count expression
      * (integer thresholds — no fp log2). */
    def planesCase(n: String): String =
      (4 to 11).map(p => s"WHEN $n <= ${64L << p} THEN $p")
        .mkString("(CASE ", " ", " ELSE 12 END)")

    /** [[VectorKernels.cellsFor]] as a SQL CASE over a count expression. */
    def cellsCase(n: String): String =
      s"(CASE WHEN $n <= 1024 THEN 8 WHEN $n <= 2048 THEN 16 ELSE 32 END)"

    /** Sign-LSH bucket with a RUNTIME plane count `np` (≤ maxPlanes):
      * plane j contributes only when j < np, so one static SQL text serves
      * every corpus size. */
    def lshBucketDyn(v: String, np: String, dims: Int, maxPlanes: Int = 12): String =
      (0 until maxPlanes).map { j =>
        s"(case when $j < $np and ${dot(v, s"(${planeLit(j, dims)})", dims)} > 0 then ${1L << j} else 0 end)"
      }.mkString("(", " + ", ")::BIGINT")
  }
}
