package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.Row

/** One generated night: the bank snapshot the `BankSource` serves, the
  * drop files written for it, and what the warehouse must hold after it.
  */
final case class Night(index: Int, date: LocalDate, runTs: Timestamp, dropDir: Path,
                       clients: Seq[Row], accounts: Seq[Row], cards: Seq[Row],
                       terminals: Seq[Row], txIds: Seq[String], blacklist: Seq[String],
                       stagedRows: Long, inputBytes: Long)

/** Seeded nightly input: bank dims with inserts, updates and deletes
  * every night, a `;`-separated decimal-comma transactions file that
  * repeats some earlier ids, a full terminals snapshot and a cumulative
  * passport blacklist, both as XLSX. Ids, churn and dates come from the
  * seed; row counts do not, so every seed does the same amount of work.
  */
object NightGen {
  val Nights = 3
  val Clients = 2000
  val Terminals = 300
  val TxPerNight = 5000
  val BlacklistFirst = 60
  val BlacklistPerNight = 15

  private val lastNames = Seq("Ivanov", "Petrov", "Sidorov", "Smirnov", "Kuznetsov", "Popov",
    "Volkov", "Sokolov", "Lebedev", "Kozlov")
  private val firstNames = Seq("Ivan", "Petr", "Anna", "Olga", "Sergey", "Maria", "Pavel",
    "Elena", "Dmitry", "Irina")
  private val patronymics = Seq("Ivanovich", "Petrovich", "Sergeevna", "Pavlovna", "Olegovich")
  private val cities = Seq("Moscow", "Kazan", "Omsk", "Tver", "Sochi", "Perm", "Ufa", "Tula",
    "Samara", "Vologda", "Kirov", "Penza")

  private val TxTime = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def d(x: LocalDate): Date = Date.valueOf(x)

  def generate(dir: Path, seed: Long): Seq[Night] = {
    val r = new Random(seed)
    val first = LocalDate.of(2021, 3, 1)
    val created = ts("2021-02-01 00:00:00")
    // mutable current images, keyed and ordered by key
    val clients = mutable.TreeMap.empty[String, Row]
    val accounts = mutable.TreeMap.empty[String, Row]
    val cards = mutable.TreeMap.empty[String, Row]
    val terminals = mutable.TreeMap.empty[String, Row]
    var nextClient = 0
    var nextTerminal = 0

    def passport(): String = f"${1000 + r.nextInt(9000)}%04d${r.nextInt(1000000)}%06d"
    def phone(): String = f"+7 9${r.nextInt(100)}%02d ${r.nextInt(1000)}%03d ${r.nextInt(10000)}%04d"
    def clientRow(id: String, cr: Timestamp, up: Timestamp): Row = Row(id,
      lastNames(r.nextInt(lastNames.size)), firstNames(r.nextInt(firstNames.size)),
      if (r.nextInt(20) == 0) null else patronymics(r.nextInt(patronymics.size)),
      d(LocalDate.of(1950 + r.nextInt(50), 1 + r.nextInt(12), 1 + r.nextInt(28))),
      passport(),
      if (r.nextInt(10) == 0) d(first.minusDays(1 + r.nextInt(300)))
      else d(first.plusDays(30 + r.nextInt(3000))),
      phone(), cr, up)
    def accountValidTo(): Date =
      if (r.nextInt(20) == 0) d(first.minusDays(1 + r.nextInt(60))) else d(first.plusDays(100 + r.nextInt(2000)))
    // one client → one account → one or two cards
    def newClient(cr: Timestamp): Unit = {
      val id = f"C$nextClient%07d"
      val acc = f"40817810$nextClient%012d"
      nextClient += 1
      clients(id) = clientRow(id, cr, null)
      accounts(acc) = Row(acc, accountValidTo(), id, cr, null)
      (0 until 1 + r.nextInt(2)).foreach { _ =>
        val card = f"${4000 + r.nextInt(6000)}%04d ${r.nextInt(10000)}%04d ${r.nextInt(10000)}%04d ${r.nextInt(10000)}%04d"
        if (!cards.contains(card)) cards(card) = Row(card, acc, cr, null)
      }
    }
    def newTerminal(): Unit = {
      val kind = if (r.nextBoolean()) "POS" else "ATM"
      val id = f"${kind.head}$nextTerminal%05d"
      nextTerminal += 1
      terminals(id) = Row(id, kind, cities(r.nextInt(cities.size)),
        s"${cities(r.nextInt(cities.size))}, street ${r.nextInt(100)}, ${r.nextInt(50)}")
    }
    def pick[T](xs: IndexedSeq[T], n: Int): Seq[T] = r.shuffle(xs).take(n)

    (0 until Clients).foreach(_ => newClient(created))
    (0 until Terminals).foreach(_ => newTerminal())
    val blacklist = mutable.LinkedHashMap.empty[String, Double]
    val pastIds = mutable.ArrayBuffer.empty[String]

    (1 to Nights).map { k =>
      val date = first.plusDays(k - 1L)
      val upd = Timestamp.valueOf(date.atTime(10, 0))
      if (k > 1) {
        // ~2% churn per dim: updates, deletes, inserts
        pick(clients.keys.toIndexedSeq, Clients / 100).foreach { id =>
          val old = clients(id)
          clients(id) = Row(old.getString(0), old.getString(1), old.getString(2), old.get(3),
            old.get(4), if (r.nextBoolean()) passport() else old.getString(5), old.get(6), phone(),
            old.get(8), upd)
        }
        pick(clients.keys.toIndexedSeq, Clients / 300).foreach(clients.remove)
        pick(accounts.keys.toIndexedSeq, Clients / 200).foreach { a =>
          val old = accounts(a)
          accounts(a) = Row(a, accountValidTo(), old.getString(2), old.get(3), upd)
        }
        pick(cards.keys.toIndexedSeq, Clients / 200).foreach { c =>
          val old = cards(c)
          cards(c) = Row(c, accounts.keys.toIndexedSeq(r.nextInt(accounts.size)), old.get(2), upd)
        }
        pick(cards.keys.toIndexedSeq, Clients / 400).foreach(cards.remove)
        (0 until Clients / 200).foreach(_ => newClient(upd))
        pick(terminals.keys.toIndexedSeq, Terminals / 50).foreach { t =>
          val old = terminals(t)
          terminals(t) = Row(t, old.getString(1), cities(r.nextInt(cities.size)), old.getString(3))
        }
        pick(terminals.keys.toIndexedSeq, Terminals / 100).foreach(terminals.remove)
        (0 until Terminals / 100).foreach(_ => newTerminal())
      }
      val clientPassports = clients.values.map(_.getString(5)).toIndexedSeq
      val newEntries = if (k == 1) BlacklistFirst else BlacklistPerNight
      (0 until newEntries).foreach { _ =>
        val p = if (r.nextInt(4) == 0) passport() else clientPassports(r.nextInt(clientPassports.size))
        if (!blacklist.contains(p)) blacklist(p) = (date.toEpochDay + 25569L).toDouble
      }

      val nightDir = dir.resolve(f"night-$k%02d")
      Files.createDirectories(nightDir)
      val stamp = f"${date.getDayOfMonth}%02d${date.getMonthValue}%02d${date.getYear}%04d"
      // transactions: fresh ids plus ~2% repeated from earlier nights;
      // some cards carry outer spaces, and one tx in twenty gets a
      // second one on the same card within the hour, at another terminal
      val cardKeys = cards.keys.toIndexedSeq
      val termKeys = terminals.keys.toIndexedSeq
      val repeats = if (pastIds.isEmpty) Seq.empty[String]
        else pick(pastIds.toIndexedSeq, TxPerNight / 50)
      val sb = new StringBuilder("transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n")
      val ids = mutable.ArrayBuffer.empty[String]
      var i = 0
      def line(id: String, second: Int, card: String): Unit = {
        val t = date.atStartOfDay().plusSeconds(second.toLong)
        val amt = f"${r.nextInt(100000)}%d,${r.nextInt(100)}%02d"
        val c = if (r.nextInt(10) == 0) card + " " else card
        sb.append(id).append(';').append(TxTime.format(t)).append(';').append(amt)
          .append(';').append(c).append(';')
          .append(Seq("PAYMENT", "WITHDRAW", "DEPOSIT")(r.nextInt(3))).append(';')
          .append(if (r.nextInt(10) == 0) "REJECT" else "SUCCESS").append(';')
          .append(termKeys(r.nextInt(termKeys.size))).append('\n')
        ids += id
      }
      while (ids.size < TxPerNight - repeats.size) {
        val card = cardKeys(r.nextInt(cardKeys.size))
        val sec = r.nextInt(86400 - 3600)
        line(f"$k%d${i}%09d", sec, card); i += 1
        if (r.nextInt(20) == 0 && ids.size < TxPerNight - repeats.size) {
          line(f"$k%d${i}%09d", sec + 60 + r.nextInt(3000), card); i += 1
        }
      }
      repeats.foreach(id => line(id, r.nextInt(86400), cardKeys(r.nextInt(cardKeys.size))))
      val freshIds = ids.filterNot(repeats.toSet)
      pastIds ++= freshIds
      Files.write(nightDir.resolve(s"transactions_$stamp.txt"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
      XlsxWriter.write(nightDir.resolve(s"terminals_$stamp.xlsx"),
        Seq("terminal_id", "terminal_type", "terminal_city", "terminal_address"),
        terminals.values.map(t => (0 until 4).map(j => t.getString(j): Any)).toSeq)
      XlsxWriter.write(nightDir.resolve(s"passport_blacklist_$stamp.xlsx"), Seq("date", "passport"),
        blacklist.toSeq.map { case (p, serial) => Seq(serial, p) })

      val bank = Seq(clients.values.toSeq, accounts.values.toSeq, cards.values.toSeq)
      val bankBytes = bank.flatten.map(_.toSeq.mkString(";").getBytes(StandardCharsets.UTF_8).length + 1L).sum
      val fileBytes = Harness.listFiles(nightDir).map(Files.size).sum
      Night(k, date, Timestamp.valueOf(date.atTime(23, 55)), nightDir,
        bank(0), bank(1), bank(2), terminals.values.toSeq, pastIds.toSeq,
        blacklist.keys.toSeq,
        stagedRows = bank.map(_.size.toLong).sum + ids.size + terminals.size + blacklist.size,
        inputBytes = bankBytes + fileBytes)
    }
  }
}

/** The smallest XLSX `graft.sources.Xlsx.readSheet` accepts: one
  * worksheet of inline-string and numeric cells.
  */
object XlsxWriter {
  def write(path: Path, header: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    def col(i: Int): String = if (i < 26) ('A' + i).toChar.toString else col(i / 26 - 1) + col(i % 26)
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val sb = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    (header +: rows).zipWithIndex.foreach { case (cells, ri) =>
      sb.append(s"""<row r="${ri + 1}">""")
      cells.zipWithIndex.foreach { case (v, ci) =>
        val ref = s"${col(ci)}${ri + 1}"
        v match {
          case x: Double => sb.append(s"""<c r="$ref"><v>$x</v></c>""")
          case null => ()
          case x => sb.append(s"""<c r="$ref" t="inlineStr"><is><t>${esc(x.toString)}</t></is></c>""")
        }
      }
      sb.append("</row>")
    }
    sb.append("</sheetData></worksheet>")
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    try {
      zip.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      zip.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }
}
