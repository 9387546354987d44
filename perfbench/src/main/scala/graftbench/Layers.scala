package graftbench

/** The layers of the engine are the packages under `graft`; `pipeline`
  * is the top-level orchestrator object. Work is charged to the module
  * of the innermost `graft.*` frame in a Spark call site.
  */
object Layers {
  val Unattributed = "unattributed"

  /** Every layer the ledger reports, in report order. `multimodal` runs
    * in no workload and is left out.
    */
  val Reported: Seq[String] = Seq("pipeline", "ingest", "lake", "analytics",
    "warehouse", "operators", "serve", "textops", "stream", "functions",
    "core", Unattributed)

  /** Module of one stack frame as Spark renders it
    * (`graft.lake.LakeStorage$.write(LakeStorage.scala:29)`), if the
    * frame belongs to the engine. A leading class-loader or module
    * prefix (`app//`) is ignored.
    */
  def frameModule(frame: String): Option[String] = {
    val f = frame.trim.stripPrefix("at ")
    val paren = f.indexOf('(')
    val cls = if (paren >= 0) f.substring(0, paren) else f
    val bare = cls.substring(cls.lastIndexOf('/') + 1)
    if (!bare.startsWith("graft.")) None
    else {
      val seg = bare.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$')
      if (seg.isEmpty) None
      else if (seg.head.isLower) Some(seg)
      else Some(seg.toLowerCase)
    }
  }

  /** Module of the innermost engine frame of a multi-line call site
    * (innermost frame first, as Spark records it).
    */
  def moduleOf(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.linesIterator.map(frameModule).collectFirst { case Some(m) => m }
}
