package perfbench

/** Digests of the answers at the commit that defined the benchmark: the
  * probe's keyed "<docs>/<seed>", the operator pass's "ops/<tables>". A run
  * whose key is listed must reproduce the digest; a mismatch counts as a
  * failed operation. Unlisted keys get only the in-run checks (WAND against
  * exhaustive, driver against distributed runner, both against the
  * brute-force corpus oracle; warm operator counts against the first run). */
object Golden {

  /** Set from the command line: the golden file, and whether this run
    * records its digest instead of checking it. */
  @volatile var file: Option[java.nio.file.Path] = None
  @volatile var record: Boolean = false

  def load(p: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(p.toFile, classOf[java.util.Map[String, String]])
      scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.toMap
    }

  def key(env: Env): String = s"${env.nDocs}/${env.seed}"

  private def order(k: String): (String, Long, Long) = k match {
    case s"$d/$s" if d.nonEmpty && s.nonEmpty && (d + s).forall(_.isDigit) =>
      ("", d.toLong, s.toLong)
    case other => (other, 0L, 0L)
  }

  def check(env: Env, digest: String, key: String): Unit = {
    env.facts(if (key.startsWith("ops/")) "ops_digest" else "digest") = digest
    file.foreach { p =>
      if (record) {
        val m = load(p) + (key -> digest)
        val body = m.toSeq.sortBy { case (k, _) => order(k) }
          .map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
          .mkString("{\n", ",\n", "\n}\n")
        java.nio.file.Files.write(p, body.getBytes("UTF-8"))
        env.facts(s"golden $key") = "recorded"
      } else load(p).get(key) match {
        case Some(want) =>
          env.attempted += 1
          env.check(s"digest $digest != golden $want for $key")(digest == want)
          env.facts(s"golden $key") = if (digest == want) "match" else "MISMATCH"
        case None => env.facts(s"golden $key") = "unlisted"
      }
    }
  }
}
