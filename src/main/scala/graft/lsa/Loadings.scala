package graft.lsa

/** The two loading conventions every local concept emission shares
  * (`Lsa`, `LocalLsa`, `PowerLocalLsa`, both Ozsoy summarizers);
  * `PowerLsa.kConceptsFromFactors` states the sign rule as the
  * DataFrame ordering `abs(v) DESC, token` for its at-scale route.
  */
object Loadings {

  /** Q9/H2 sign convention: −1 when the FIRST index of `0 until n`
    * holding the largest |x(i)| is negative, else +1 (an all-zero
    * vector keeps +1; NaN never wins).
    */
  def sign(n: Int)(x: Int => Double): Double = {
    var best = 0.0; var s = 1.0
    var i = 0
    while (i < n) {
      val xi = x(i)
      if (math.abs(xi) > best) { best = math.abs(xi); s = if (xi < 0) -1.0 else 1.0 }
      i += 1
    }
    s
  }

  /** The 1e-6 ordering grid: mathematically tied loadings (tokens with
    * identical count patterns) differ only by solver round-off whose
    * SIGN depends on the backend (ARPACK or `dsyev` in `Svd`, LAPACK in
    * ls08's twin) — without the grid the top-k tie-break flips
    * nondeterministically. On the grid, ties fall to the deterministic
    * secondary key (part of the Q9/H2 determinism pin). −0 becomes 0.
    */
  def snap(x: Double): Double = {
    val q = math.rint(x * 1e6) / 1e6
    if (q == 0.0) 0.0 else q
  }
}
