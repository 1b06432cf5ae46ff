package perfbench

import org.apache.spark.sql.Row

/** The correctness checks' own tests: each check must pass on the right
  * expected result and fail on a deliberately wrong one. Prints one line
  * per case; returns the process exit code. */
object SelfTest {

  private def orderRow(k: Long, price: Double, status: String): Row =
    Row(k, 7L, status, price, java.time.LocalDateTime.of(1995, 3, 1, 0, 0), "1-URGENT")

  def run(): Int = {
    val model = new Model(0)
    val rows = (0L until 50L).map(k => orderRow(k, k * 1.5, "O"))
    rows.foreach(model.put)
    val keys = Seq(3L, 4L, 99L) // 99 is absent
    val hit = Seq(rows(3), rows(4))
    val cases: Seq[(String, Option[String], Boolean)] = Seq(
      ("lookup: model's rows", model.checkLookup(keys, hit), false),
      ("lookup: a value differs", model.checkLookup(keys,
        Seq(rows(3), orderRow(4L, 6.01, "O"))), true),
      ("lookup: a row is missing", model.checkLookup(keys, Seq(rows(3))), true),
      ("lookup: an absent key returns a row", model.checkLookup(keys,
        hit :+ orderRow(99L, 1.0, "O")), true),
      ("table: model's rows", model.checkTable(rows.reverse), false),
      ("table: one value differs", model.checkTable(
        rows.updated(10, orderRow(10L, 15.0, "U"))), true),
      ("table: one row lost", model.checkTable(rows.tail), true),
      ("table: one row doubled", model.checkTable(rows :+ rows(7)), true),
      ("table: two values swapped between rows", model.checkTable(
        rows.updated(1, orderRow(1L, 3.0, "O")).updated(2, orderRow(2L, 1.5, "O"))), true))
    val bad = cases.filter { case (name, err, shouldFail) =>
      val good = err.isDefined == shouldFail
      println(s"${if (good) "ok  " else "FAIL"} $name -> ${err.getOrElse("passes")}")
      !good
    }
    println(s"${cases.size - bad.size} ok, ${bad.size} fail")
    if (bad.isEmpty) 0 else 1
  }
}
