package graft

/** Golden oracle SQL for the queries whose expected output cannot be
  * recomputed by DuckDB from the input tables alone — seeded,
  * parallelism-independent model decisions pinned per scale factor
  * (discriminated inside the SQL by table row counts):
  *
  *   - q25: the flagship corrupt→detect→repair→hourly-rollup pipeline
  *     over the fixed 2000-page synthetic corpus (pure function of the
  *     seed — a literal VALUES relation);
  *   - q45/q52/q62/q182: GBT meta-learner decisions (verified
  *     identical at local[8] == local[32]).
  *
  * The tables live as SQL text under `resources/graft/goldens/` (they
  * are pinned data, not engine code). Regenerate after an intentional
  * algorithm change: `runMain graft.QDump <query>` per SF, or
  * `graft.Verify` at sf0.001/sf0.01, dumps the decision tables; then
  * rewrite the resource files in the same shape.
  */
object Goldens {
  def apply(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/goldens/$name.sql")
    require(in != null, s"missing golden oracle resource graft/goldens/$name.sql")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}
