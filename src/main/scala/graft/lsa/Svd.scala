package graft.lsa

import scala.reflect.ClassTag

import dev.ludovic.netlib.arpack.ARPACK
import dev.ludovic.netlib.lapack.LAPACK
import org.apache.spark.mllib.linalg.distributed.IndexedRow
import org.apache.spark.rdd.RDD
import org.netlib.util.{doubleW, intW}

/** The one top-k SVD behind every LSA route: the k largest eigenpairs
  * of AᵀA for a documents × vocabulary tf·idf matrix A ([[eigs]]), then
  * one emission step ([[emit]]). A [[Matrix]] makes the solve's two
  * passes over A — AᵀA·X and the top documents of A·W — on the driver or
  * in a `flatMapGroups` task ([[Local]], a CSR matrix) or as one Spark
  * job per pass over the rows ([[Distributed]], what `computeSVD` runs
  * per Lanczos step). Both add each row's terms in ascending column
  * order, so they differ only in the order the rows' sums meet.
  *
  * The eigen-solve is ARPACK's implicitly restarted Lanczos with
  * `computeSVD`'s tolerance and iteration cap, from a fixed seeded start
  * vector, so two calls on the same matrix return the same bits. Below
  * [[GramianCols]] columns, or when k leaves ARPACK no room
  * (nev < ncv ≤ n), it forms AᵀA in one pass and solves it with LAPACK
  * `dsyev`, as `computeSVD` does below 100 columns.
  */
private[graft] object Svd {

  /** A documents × `cols` matrix. Dense blocks (X, W, AᵀA·X) are
    * `cols` × m, column-major: entry (i, j) at j·cols + i.
    */
  sealed trait Matrix {
    def cols: Int

    /** One pass: `add(acc, data, id, idx, vs, from, until)` sees each row
      * (its nonzeros `from until until` of idx/vs) with `data` at hand;
      * partial accumulators meet through `merge`.
      */
    protected def fold[A: ClassTag](data: Array[Double], zero: () => A,
        add: (A, Array[Double], Long, Array[Int], Array[Double], Int, Int) => Unit,
        merge: (A, A) => A): A

    /** AᵀA·X. */
    def gramianTimes(x: Array[Double], m: Int): Array[Double] = {
      val n = cols
      fold[Array[Double]](x, () => new Array[Double](n * m),
        (z, x, _, idx, vs, from, until) => accumulate(idx, vs, from, until, x, n, m, z),
        (a, b) => { a.indices.foreach(i => a(i) += b(i)); a })
    }

    /** Per column j of A·W, the `nTop` document ids with the largest
      * loading on the [[Loadings.snap]] grid, ties to the lower id.
      */
    def topDocs(w: Array[Double], m: Int, nTop: Int): Array[Seq[Long]] = {
      val n = cols
      fold[Tops](w, () => new Tops(m, nTop),
        (t, w, id, idx, vs, from, until) => t.add(id, idx, vs, from, until, w, n),
        _ merge _).result
    }
  }

  /** A CSR matrix: row r is document `ids(r)`, ids ascending, its
    * nonzeros at `ptr(r) until ptr(r + 1)` in ascending column order.
    * `LocalLsa` builds the arrays straight from int-coded tokens.
    */
  final class Local private[lsa] (private[lsa] val ids: Array[Long],
      private[lsa] val ptr: Array[Int], private[lsa] val idx: Array[Int],
      private[lsa] val vs: Array[Double], val cols: Int) extends Matrix {
    def rows: Int = ids.length

    protected def fold[A: ClassTag](data: Array[Double], zero: () => A,
        add: (A, Array[Double], Long, Array[Int], Array[Double], Int, Int) => Unit,
        merge: (A, A) => A): A = {
      val acc = zero()
      ids.indices.foreach(r => add(acc, data, ids(r), idx, vs, ptr(r), ptr(r + 1)))
      acc
    }
  }

  object Local {
    /** The matrix of nonzero cells (id, column, value), given in any
      * order: rows in ascending id, so a collect's order cannot change
      * the result. `Lsa.concepts`' local branch collects Spark's cells
      * this way.
      */
    def apply(cells: Iterable[(Long, Int, Double)], cols: Int): Local = {
      val c = cells.toArray.sortWith((a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))
      val starts = c.indices.filter(p => p == 0 || c(p)._1 != c(p - 1)._1)
      new Local(starts.map(c(_)._1).toArray, (starts :+ c.length).toArray,
        c.map(_._2), c.map(_._3), cols)
    }
  }

  /** The rows of a `cols`-column matrix, sparse with ascending indices
    * and persisted by the caller; a pass is one `treeReduce` job, `data`
    * a broadcast.
    */
  final class Distributed(rows: RDD[IndexedRow], val cols: Int) extends Matrix {
    protected def fold[A: ClassTag](data: Array[Double], zero: () => A,
        add: (A, Array[Double], Long, Array[Int], Array[Double], Int, Int) => Unit,
        merge: (A, A) => A): A = {
      val b = rows.sparkContext.broadcast(data)
      try rows.mapPartitions { it =>
        val acc = zero()
        it.foreach { r =>
          val sv = r.vector.toSparse
          add(acc, b.value, r.index, sv.indices, sv.values, 0, sv.indices.length)
        }
        Iterator.single(acc)
      }.treeReduce(merge)
      finally b.destroy()
    }
  }

  /** z += a·(aᵀx) per column of X, for one row a: nonzeros
    * `from until until` of (idx, vs).
    */
  private def accumulate(idx: Array[Int], vs: Array[Double], from: Int, until: Int,
      x: Array[Double], n: Int, m: Int, z: Array[Double]): Unit = {
    var j = 0
    while (j < m) {
      val base = j * n
      var w = 0.0
      var p = from
      while (p < until) { w += vs(p) * x(base + idx(p)); p += 1 }
      p = from
      while (p < until) { z(base + idx(p)) += vs(p) * w; p += 1 }
      j += 1
    }
  }

  /** Bounded per-column candidates for [[Matrix.topDocs]]: column j
    * keeps its best `nTop` (snapped loading, id) pairs in
    * `j·nTop until j·nTop + sizes(j)`, best first.
    */
  private[lsa] final class Tops(m: Int, nTop: Int) extends Serializable {
    private val loads = new Array[Double](m * nTop)
    private val ids = new Array[Long](m * nTop)
    private val sizes = new Array[Int](m)

    /** (l, id) ranks before (l2, id2): loading descending by
      * `java.lang.Double.compare` of the negated loadings, then id
      * ascending.
      */
    private def before(l: Double, id: Long, l2: Double, id2: Long): Boolean = {
      val c = java.lang.Double.compare(-l, -l2)
      c < 0 || (c == 0 && id < id2)
    }

    private def offer(j: Int, l: Double, id: Long): Unit = {
      val base = j * nTop
      val s = sizes(j)
      if (nTop == 0 || (s == nTop && !before(l, id, loads(base + s - 1), ids(base + s - 1))))
        return
      if (s < nTop) sizes(j) = s + 1
      var p = base + sizes(j) - 1 // the free slot; worse candidates shift into it
      while (p > base && before(l, id, loads(p - 1), ids(p - 1))) {
        loads(p) = loads(p - 1); ids(p) = ids(p - 1)
        p -= 1
      }
      loads(p) = l; ids(p) = id
    }

    /** Row `id`'s loadings a·wⱼ, a being nonzeros `from until until`. */
    def add(id: Long, idx: Array[Int], vs: Array[Double], from: Int, until: Int,
        w: Array[Double], n: Int): Unit = {
      var j = 0
      while (j < m) {
        var u = 0.0
        var p = from
        while (p < until) { u += vs(p) * w(j * n + idx(p)); p += 1 }
        offer(j, Loadings.snap(u), id)
        j += 1
      }
    }

    def merge(o: Tops): Tops = {
      (0 until m).foreach { j =>
        (j * nTop until j * nTop + o.sizes(j)).foreach(p => offer(j, o.loads(p), o.ids(p)))
      }
      this
    }

    def result: Array[Seq[Long]] =
      Array.tabulate(m)(j => ids.slice(j * nTop, j * nTop + sizes(j)).toSeq)
  }

  /** Columns below which [[eigs]] solves an explicit AᵀA: `computeSVD`'s
    * cut, where one Gramian pass costs less than a pass per Lanczos step.
    */
  private val GramianCols = 100

  /** `computeSVD`'s ARPACK convergence tolerance. */
  private val Tol = 1e-10

  /** Seed of ARPACK's start vector. */
  private val StartSeed = 1L

  /** ARPACK's F2j build keeps its iteration state in static fields
    * (`Dsaup2.iter`, `nconv`, `rnorm`, `Dgetv0.iseed`, …), so two solves
    * in one JVM — driver threads or `flatMapGroups` tasks — must not
    * interleave. A distributed solve holds it across its Spark jobs.
    */
  private val ArpackLock = new Object

  /** The top min(k, n) eigenpairs of AᵀA as (λ descending, V:
    * n × λ.length column-major). ARPACK may converge on fewer than k.
    */
  private[lsa] def eigs(a: Matrix, k: Int): (Array[Double], Array[Double]) = {
    val n = a.cols
    if (n < GramianCols || k >= n) {
      val identity = new Array[Double](n * n)
      (0 until n).foreach(i => identity(i * n + i) = 1.0)
      val (w, z) = dsyev(a.gramianTimes(identity, n), n)
      val top = (n - 1 to math.max(0, n - k) by -1).toArray // dsyev ascends
      (top.map(w(_)), top.flatMap(j => z.slice(j * n, (j + 1) * n)))
    } else lanczos(a, n, k)
  }

  /** All eigenpairs of the symmetric n × n matrix `g` (column-major, its
    * lower triangle read and overwritten) as (λ ascending, V column-major):
    * the LAPACK call breeze's `eigSym` makes, with the same lwork, so the
    * bits are the same.
    */
  private def dsyev(g: Array[Double], n: Int): (Array[Double], Array[Double]) = {
    val w = new Array[Double](n)
    val lwork = math.max(1, 3 * n - 1)
    val info = new intW(0)
    LAPACK.getInstance().dsyev("V", "L", n, g, math.max(1, n), w, new Array[Double](lwork),
      lwork, info)
    if (info.`val` != 0)
      throw new IllegalStateException(s"LAPACK dsyev returned info = ${info.`val`}")
    (w, g)
  }

  private def lanczos(a: Matrix, n: Int, k: Int): (Array[Double], Array[Double]) =
    ArpackLock.synchronized {
      val arpack = ARPACK.getInstance()
      val ncv = math.min(2 * k, n)
      val iparam = new Array[Int](11)
      iparam(0) = 1 // exact shifts
      iparam(2) = math.max(300, 3 * k) // computeSVD's iteration cap
      iparam(6) = 1 // mode 1: A·x = λ·x, A symmetric
      val (tol, ido) = (new doubleW(Tol), new intW(0))
      val info = new intW(1) // start from resid
      val rnd = new java.util.Random(StartSeed)
      val resid = Array.fill(n)(rnd.nextDouble() - 0.5)
      val v = new Array[Double](n * ncv)
      val workd = new Array[Double](3 * n)
      val workl = new Array[Double](ncv * (ncv + 8))
      val ipntr = new Array[Int](11)
      // the restart vector F2j draws on a Krylov breakdown comes from a
      // static seed that advances across calls; reset it per solve
      org.netlib.arpack.Dgetv0.inits = true
      def step(): Unit = arpack.dsaupd(ido, "I", n, "LM", k, tol, resid, ncv, v, n,
        iparam, ipntr, workd, workl, workl.length, info)
      step()
      while (ido.`val` != 99) {
        if (ido.`val` != 1 && ido.`val` != -1)
          throw new IllegalStateException(s"ARPACK dsaupd returned ido = ${ido.`val`}")
        val x = java.util.Arrays.copyOfRange(workd, ipntr(0) - 1, ipntr(0) - 1 + n)
        System.arraycopy(a.gramianTimes(x, 1), 0, workd, ipntr(1) - 1, n)
        step()
      }
      if (info.`val` != 0)
        throw new IllegalStateException(s"ARPACK dsaupd returned info = ${info.`val`}")
      val (d, z) = (new Array[Double](k), new Array[Double](n * k))
      arpack.dseupd(true, "A", new Array[Boolean](ncv), d, z, n, 0.0, "I", n, "LM",
        new intW(k), Tol, resid, ncv, v, n, iparam, ipntr, workd, workl, workl.length, info)
      if (info.`val` != 0)
        throw new IllegalStateException(s"ARPACK dseupd returned info = ${info.`val`}")
      val order = (0 until iparam(4)).sortBy(j => -d(j)).toArray
      (order.map(d(_)), order.flatMap(j => z.slice(j * n, (j + 1) * n)))
    }

  /** The concepts of `a` (columns = `vocab` in idx order) at `k`. */
  def concepts(a: Matrix, vocab: Array[String], k: Int, cfg: Lsa.Config): Seq[Lsa.Concept] = {
    val (lambda, v) = eigs(a, k) // round-off below zero reads σ = 0
    emit(a, vocab, lambda.map(l => math.sqrt(math.max(l, 0.0))), v, cfg)
  }

  /** Relative σ floor of the effective rank: 8·√ε·σ₀ (≈ 1.2e-7·σ₀). The
    * solve squares the matrix, so a null direction of rank-deficient
    * input (duplicate sentences) comes back at σ = √p·√ε·σ₀ and would
    * fail the residual gate; on 120 random rank-deficient corpora p read
    * up to 2 (σ ≤ 1.4·√ε·σ₀), and 8·√ε covers p ≤ 64. A genuine top-k
    * concept of a tf·idf matrix sits orders of magnitude above it.
    */
  private[lsa] val SigmaFloor: Double = 8 * math.sqrt(math.ulp(1.0))

  /** Max relative eigen-residual [[emit]] accepts: measured ~1e-12 at
    * sf0.1 (tol 1e-10); 1e-6 leaves headroom and stops a broken solver.
    */
  private val ResidualTol = 1e-6

  /** The concepts of claimed singular values `sigma` (descending) and
    * right-singular vectors `v` (|vocab| × sigma.length, column-major) of
    * `a`: σ below [[SigmaFloor]]·σ₀ is cut; the eigen-residual gate
    * ([[residuals]], one pass) proves each kept (σⱼ, vⱼ) a genuine
    * singular triple of THIS matrix; the Q9/H2 sign ([[Loadings.sign]] on
    * the [[Loadings.snap]] grid, so tied maxima of opposite sign fall to
    * the first index); the top nKeywords by (−snapped loading, token);
    * and the top nDocs of U = AVΣ⁻¹ by (−snapped loading, id), one pass
    * (a zero-σ concept of an all-zero matrix loads every document 0).
    */
  private[lsa] def emit(a: Matrix, vocab: Array[String], sigma: Array[Double],
      v: Array[Double], cfg: Lsa.Config): Seq[Lsa.Concept] = {
    val n = vocab.length
    val kEff = sigma.indices.takeWhile(j => sigma(j) >= SigmaFloor * sigma(0)).size
    val s = sigma.take(kEff)
    val vk = v.take(n * kEff)
    requireGenuine(residuals(a, vk, s), s)
    val signs = Array.tabulate(kEff)(j => Loadings.sign(n)(i => Loadings.snap(vk(j * n + i))))
    val keywords = Array.tabulate(kEff) { j =>
      (0 until n)
        .map(i => (Loadings.snap(vk(j * n + i) * signs(j)), vocab(i)))
        .sortBy { case (l, t) => (-l, t) }
        .take(cfg.nKeywords).map(_._2)
    }
    val w = Array.tabulate(n * kEff) { p =>
      val j = p / n
      if (s(j) > 0.0) vk(p) * signs(j) / s(j) else 0.0
    }
    val docs = if (kEff == 0) Array.empty[Seq[Long]] else a.topDocs(w, kEff, cfg.nDocs)
    (0 until kEff).map(j => Lsa.Concept(j, s(j), keywords(j), docs(j)))
  }

  /** Relative eigen-residuals ‖AᵀAvⱼ − σⱼ²vⱼ‖ / σⱼ² of claimed `v`
    * (cols × s.length) and `s` in one pass: near the solver tolerance for
    * a genuine triple, orders of magnitude more for a corrupted V or a
    * wrong σ (`EigenResidualSpec`). Zero-σ concepts report 0.
    */
  private[lsa] def residuals(a: Matrix, v: Array[Double], s: Array[Double]): Array[Double] = {
    val n = a.cols
    lazy val z = a.gramianTimes(v, s.length)
    Array.tabulate(s.length) { j =>
      val s2 = s(j) * s(j)
      if (s2 <= 0.0) 0.0
      else math.sqrt((j * n until (j + 1) * n).map { i => val d = z(i) - s2 * v(i); d * d }.sum) / s2
    }
  }

  /** Every residual within [[ResidualTol]], else fail naming the concept. */
  private[lsa] def requireGenuine(res: Array[Double], s: Array[Double]): Unit =
    res.zipWithIndex.foreach { case (rel, j) =>
      require(rel <= ResidualTol,
        s"SVD self-check failed: concept $j eigen-residual " +
          s"|AtAv - s2 v|/s2 = $rel > $ResidualTol (sigma=${s(j)})")
    }
}
