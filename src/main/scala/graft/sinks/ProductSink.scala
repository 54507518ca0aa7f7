package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.model.Product

/** Product sink (SURVEY.md §2.8 K1).
  *
  * The reference appends each product to an Excel sheet whose header row and
  * column order are fixed (helpers.py:39-49 — note "Brand Url" before
  * "Picture") and where None becomes "" (helpers.py:52-54). The engine's
  * production sink is parquet (append via SnapshotTable); this module writes
  * the human-diffable golden form: a CSV with the exact Excel header names,
  * exact column order, and ""-for-null semantics.
  */
object ProductSink {

  /** Reorder/normalize to the exact sink shape: 34 columns, sink order,
    * nulls -> "", Excel header names. */
  def toSinkFrame(products: DataFrame): DataFrame = {
    val ordered = products.select(Product.sinkOrder.map(col): _*)
    val filled = ordered.na.fill("")
    filled.toDF(Product.sinkHeaders: _*)
  }

  /** Write the golden CSV (header always present, like the reference's
    * header-on-create, helpers.py:38-49). */
  def writeGoldenCsv(products: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    toSinkFrame(products)
      .write.mode(mode)
      .option("header", "true")
      .option("emptyValue", "")
      .csv(path)
}
