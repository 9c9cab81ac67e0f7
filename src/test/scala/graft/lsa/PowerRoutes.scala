package graft.lsa

import org.apache.spark.sql.DataFrame

/** The two routes of [[PowerLsa]]'s factor chain, called directly, so a
  * spec can pin local = distributed on inputs that the route probe would
  * always send local.
  */
object PowerRoutes {

  /** `f` over the distributed routes' inputs: the persisted
    * (id, token, a) cells and their vocabulary size, as PowerLsa's probe
    * hands them over. `f` must return collected data — the cells are
    * released when it returns.
    */
  def distributed[T](cells: DataFrame)(f: (DataFrame, Long) => T): T = {
    val c = cells.select("id", "token", "a").persist()
    try f(c, c.select("token").distinct().count()) finally c.unpersist()
  }

  /** ls01's concept rows from the local factors. */
  def conceptsLocal(cells: DataFrame, k: Int, iters: Int): DataFrame =
    PowerLsa.kConceptsFromFactors(PowerLsa.kFactorsLocal(cells, k, iters),
      cells.sparkSession)

  /** ls01's concept rows from the distributed factors. */
  def conceptsDistributed(cells: DataFrame, k: Int, iters: Int): DataFrame =
    distributed(cells)((c, nv) => PowerLsa.kConceptsFromFactors(
      PowerLsa.kFactors(c, nv, k, iters), cells.sparkSession))
}
