package graft

/** `SPARK_GRAFT_ONLY=q01_x,q02_y`: the one query filter that Bench and
  * Verify read, for exploratory runs. Exact query names, comma-separated;
  * blank entries are ignored. An unknown name fails the run and is
  * listed, so a typo can never silently narrow it. Contract runs never
  * set it.
  */
object QueryFilter {
  def fromEnv: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(raw => select(raw.split(",").toSeq, SparkEntry.queries.keySet))

  /** The named queries, in order and without repeats; throws on unknown names. */
  def select(entries: Seq[String], known: String => Boolean): Seq[String] = {
    val names = entries.map(_.trim).filter(_.nonEmpty).distinct
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    require(names.nonEmpty, "no query named")
    names
  }
}
