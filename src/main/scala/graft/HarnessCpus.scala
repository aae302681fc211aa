package graft

/** Task slots (`local[N]`) and shuffle parallelism for the command-line
  * harnesses: `SPARK_GRAFT_CPUS` when set, otherwise this host's
  * processor count. More slots than cores only adds scheduling overhead
  * and thread contention to every measured query.
  */
private[graft] object HarnessCpus {
  def apply(): String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)
}
