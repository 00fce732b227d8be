package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkEntry

/** Records the answers in `catalog_expected.json` (see
  * `perfbench/record_reference.py`).
  *
  * `Record --dump <verify dump> --bench <perfbench dir> --work <dir>`
  * takes each entry's row count and checksum from a `graft.Verify` dump
  * that `tools/localverify.py` accepted (row count only for entries
  * without a DuckDB oracle). Each entry keeps the reference time already
  * recorded for it, which only orders the catalog's strata; a new entry
  * gets 0 and falls into the first stratum. */
object Record {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val bench = new File(o("bench"))
    val spark = Main.session(new File(o("work")), Runtime.getRuntime.availableProcessors())
    val file = new File(bench, Catalog.ExpectedFile)
    val old = if (file.exists) Catalog.load(file) else Map.empty[String, Expected]
    val oracle = SparkEntry.oracleSql.keySet
    val entries = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val (rows, sum) = Catalog.fingerprint(spark.read.parquet(s"${o("dump")}/$n"), s"dump_$n")
      n -> Map("rows" -> rows, "checksum" -> (if (oracle(n)) Some(sum) else None),
        "ref_s" -> old.get(n).map(_.refS).getOrElse(0.0))
    }
    Files.write(file.toPath, (s"""{"sf":"sf0.01","entries":{\n""" +
      entries.map { case (n, m) => s"${Json.str(n)}:${Json.value(m)}" }.mkString(",\n") +
      "\n}}\n").getBytes(UTF_8))
    spark.stop()
  }
}
