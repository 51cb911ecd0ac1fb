package graft.perfbench

import java.security.MessageDigest

/** What a workload's inputs look like for a seed, computed without Spark:
  * the benchmark's own tests compare these across seeds.
  */
object Inputs {
  private def hex(md: MessageDigest): String = md.digest().map(b => f"$b%02x").mkString

  def describe(workload: String, seed: Long): Map[String, Any] = workload match {
    case "curation_heavy" =>
      val rows = Corpus.permutedDocuments(Corpus.CurationDocs, seed)
        .map(d => s"${d.doc_id}|${d.text}|${d.lang}|${d.source}|${d.n_chars}")
      def sha(xs: Seq[String]): String = {
        val md = MessageDigest.getInstance("SHA-256")
        xs.foreach(x => md.update((x + "\n").getBytes("UTF-8")))
        hex(md)
      }
      Map("rows" -> rows.length, "sha256" -> sha(rows.toSeq), "content_sha256" -> sha(rows.sorted.toSeq))
    case _ =>
      val pages = Corpus.articlePages(seed).toSeq
      val other = Corpus.articlePages(seed + 1).map(_._1).toSeq
      val all = MessageDigest.getInstance("SHA-256")
      pages.foreach { case (u, h) => all.update(u.getBytes("UTF-8")); all.update(0: Byte); all.update(h) }
      val sizes = pages.map(_._2.length.toDouble).sorted
      val sizesMd = MessageDigest.getInstance("SHA-256")
      sizes.foreach(s => sizesMd.update(s"${s.toLong}\n".getBytes("UTF-8")))
      Map(
        "rows" -> pages.size,
        "sha256" -> hex(all),
        "sizes_sha256" -> hex(sizesMd),
        "urls_changed_vs_seed_plus_1" -> pages.map(_._1).zip(other).count { case (a, b) => a != b }.toDouble / pages.size,
        "size_p10" -> Stats.quantile(sizes, 0.1),
        "size_p50" -> Stats.quantile(sizes, 0.5),
        "size_p90" -> Stats.quantile(sizes, 0.9))
  }
}
