package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the mains (`RunPipeline`, `Bench`,
  * `Verify`, `Profile`, `graft.tools.EntryDrive`). It owns the policy
  * they share: the UTC session time zone and, unless the launcher has
  * already set `spark.master` (spark-submit does, as a system
  * property), `local[cores]` with `cores` shuffle partitions. Anything
  * else a main needs — app name, AQE, codec, committer, UI — is its own
  * `extra` conf, so no main's effective conf moves when another's does.
  */
object Sessions {

  /** The conf [[local]] sets, in order; a later entry wins. */
  private[graft] def conf(masterPreset: Boolean, cores: Int,
      extra: Seq[(String, String)]): Seq[(String, String)] = {
    val local =
      if (masterPreset) Nil
      else Seq("spark.master" -> s"local[$cores]", "spark.sql.shuffle.partitions" -> cores.toString)
    local ++ Seq("spark.sql.session.timeZone" -> "UTC") ++ extra
  }

  /** The session of [[conf]] (`getOrCreate`: an active session is
    * returned with the conf's SQL entries set on it).
    */
  def local(cores: Int, extra: (String, String)*): SparkSession =
    conf(sys.props.contains("spark.master"), cores, extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
