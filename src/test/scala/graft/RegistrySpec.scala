package graft

/** Registry integrity: the SparkEntry maps are built by ++-merging the
  * per-family query/oracle maps, and a duplicate key across families is
  * SILENT — the later map's entry shadows the earlier one and a whole
  * oracled query vanishes from the driver contract without any error
  * (this nearly happened in round 10: a second "q_temp_mixture" would
  * have shadowed the existing epoch-mixture query). These gates make the
  * collision loud. The first two gates are pure map arithmetic; the
  * fitted oracles need a session to fit their models.
  */
class RegistrySpec extends SparkSpec {

  private def queryMaps = Seq(
    "RelationalQueries" -> graft.queries.RelationalQueries.queries.keySet,
    "TextQueries" -> graft.queries.TextQueries.queries.keySet,
    "VectorQueries" -> graft.queries.VectorQueries.queries.keySet,
    "SchemaQueries" -> graft.queries.SchemaQueries.queries.keySet,
    "MediaQueries" -> graft.queries.MediaQueries.queries.keySet,
    "ConvQueries" -> graft.queries.ConvQueries.queries.keySet,
    "PrefQueries" -> graft.queries.PrefQueries.queries.keySet,
    "DqQueries" -> graft.queries.DqQueries.queries.keySet,
    "DqQueries.ref" -> graft.queries.DqQueries.refQueries.keySet,
    "ProfilingQueries" -> graft.queries.ProfilingQueries.queries.keySet)

  test("no query key is defined by two families (merge would shadow one)") {
    val all = queryMaps.flatMap { case (fam, ks) => ks.map(_ -> fam) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"duplicate query keys across families: " +
        dups.map { case (k, fams) =>
          s"$k in ${fams.map(_._2).mkString("+")}" }.mkString(", "))
  }

  test("every oracle key has a query; registry names are well-formed") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
    val badNames = qs.filterNot(_.matches("[a-z0-9_]+"))
    assert(badNames.isEmpty, s"non-kebab registry names: $badNames")
  }

  /** The smallest fixture every fit accepts, and a second one (the
    * generated fixture dirs of FIXTURES.md).
    */
  private val fixtureRoot = "/root/testdata"
  private val fixture = s"$fixtureRoot/sf0.001"
  private val otherFixture = s"$fixtureRoot/sf0.01"

  /** The oracles built from a fitted model (BPE merges, PQ / IVF-PQ
    * codebooks), all returned by [[SparkEntry.fittedOracleSql]].
    */
  private val fittedKeys = Set("q_bpe_encode", "q_bpe_fertility",
    "q_pack_bpe", "q_pq_codes", "q_ann_pq_md5", "q_ivfpq_codes",
    "q_ann_ivfpq_md5", "q_ann_ivfpq_pers_md5", "q_ann_ivfpq_incr_md5",
    "q_ivfpq_code_drift", "q_ivfpq_policy", "q_ann_ivfpq_refine_md5",
    "q_ann_ivfpq_del_md5")

  test("rowsOnly is exactly the oracle-less remainder of the registry") {
    val qs = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql ++
      SparkEntry.fittedOracleSql(spark, fixture)
    val orphans = oracles.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
    // every declared rows-only query exists and has NO oracle
    val ghosts = SparkEntry.rowsOnly.diff(qs)
    assert(ghosts.isEmpty, s"rowsOnly entries without a query: $ghosts")
    val shadowed = SparkEntry.rowsOnly.intersect(oracles.keySet)
    assert(shadowed.isEmpty,
      s"rowsOnly entries that DO have an oracle: $shadowed")
    // and nothing is oracle-less without being declared — a new query
    // missing its oracle must fail loudly here, not surface as a silent
    // rows-only row in the correctness report
    val undeclared = qs.diff(oracles.keySet).diff(SparkEntry.rowsOnly)
    assert(undeclared.isEmpty,
      s"oracle-less queries not declared rows-only: $undeclared")
  }

  test("fitted oracles depend only on the fixture dir, not on earlier fits") {
    // fit the BPE merges and PQ codebooks on ANOTHER dir first: the
    // oracles for `fixture` must neither vanish nor pick up that fit
    Seq("q_pq_codes", "q_bpe_encode").foreach { q =>
      assert(SparkEntry.queries(q)(spark, otherFixture).count() > 0, q)
    }
    val fitted = SparkEntry.fittedOracleSql(spark, fixture)
    assert(fitted.keySet == fittedKeys)
    assert(SparkEntry.oracleSql.keySet.intersect(fittedKeys).isEmpty)
    val other = SparkEntry.fittedOracleSql(spark, otherFixture)
    assert(other.keySet == fittedKeys)
    assert(fittedKeys.forall(k => fitted(k) != other(k)),
      "a fitted oracle is the same SQL on two fixtures")
  }
}
