package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

/** Input sizes, derived from sf0.1: the vault is a sixteenth of it (sf0.1
  * has 15,000 customers, 150,000 orders, 600,000 line items), each corpus
  * a fifth of the sf0.1 documents table (5,000 rows). */
object Sizes {
  val Customers = 937
  val Orders = 9375
  val IngestDays = 6
  val CorpusDocs = 1000
}

object Inputs {
  /** sha256 over every generated file (name and bytes, in name order):
    * equal seeds give equal fingerprints. */
  def record(ctx: Ctx, dir: File, keep: File => Boolean = _ => true): Unit = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = listFiles(dir).filter(keep).sortBy(_.getPath)
    files.foreach { f =>
      md.update(dir.toPath.relativize(f.toPath).toString.getBytes(StandardCharsets.UTF_8))
      md.update(Files.readAllBytes(f.toPath))
    }
    ctx.inputFingerprint = (if (ctx.inputFingerprint.isEmpty) "" else ctx.inputFingerprint + "+") +
      md.digest().take(12).map("%02x".format(_)).mkString
    ctx.inputBytes += files.map(_.length).sum
  }

  def listFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  /** Bytes of the data files under `dir` (checksum files excluded). */
  def du(dir: File): Long = listFiles(dir).filterNot(_.getName.endsWith(".crc")).map(_.length).sum

  def dataFiles(dir: String): Int =
    listFiles(new File(new java.net.URI(if (dir.contains(":")) dir else "file:" + dir))).count(_.getName.endsWith(".parquet"))

  def writeTruth(f: File, gen: VaultGen): Unit = {
    val days = gen.truth.map { t =>
      s"""{"day":${t.day},"hub_customer":${t.hubCustomer},"hub_order":${t.hubOrder},""" +
        s""""link_order_customer":${t.linkOrderCustomer},"nhl_lineitem":${t.nhlLineitem},""" +
        s""""hsat_customer":${t.hsatCustomer},"hsat_order":${t.hsatOrder},""" +
        s""""tombstones":${t.tombstones},"staged_rows":${t.stagedRows}}"""
    }
    val states = gen.states.zipWithIndex.map { case (st, i) =>
      val deleted = st.customers.collect { case (k, (_, false)) => k }.toSeq.sorted
      val changed = st.touched.collect { case (k, d) if d == i + 1 => k }.toSeq.sorted
      s"""{"day":${i + 1},"active_customers":${st.customers.size - deleted.size},""" +
        s""""orders":${st.orders.size},"changed_customers":[${changed.mkString(",")}],""" +
        s""""deleted_customers":[${deleted.mkString(",")}]}"""
    }
    Files.write(f.toPath,
      s"""{"days":[${days.mkString(",")}],"states":[${states.mkString(",")}]}"""
        .getBytes(StandardCharsets.UTF_8))
  }
}
