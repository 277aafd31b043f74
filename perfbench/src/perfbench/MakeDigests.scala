package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Maintenance entry: recompute the committed digests of `suite.json` from a
  * `graft.Verify` dump (one parquet directory per query, checked against the
  * DuckDB oracle with `tools/check_oracle.py`), and the committed row count
  * of every input table.
  *
  * Usage: perfbench.MakeDigests <verifyDir> <benchDir>
  */
object MakeDigests {
  def main(args: Array[String]): Unit = {
    val Array(verifyDir, benchDir) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val file = new File(benchDir, "suite.json")
    val mapper = new ObjectMapper()
    val root = mapper.readTree(file).asInstanceOf[ObjectNode]
    val data = new File(benchDir, root.get("data").asText).getAbsolutePath
    val tables = mapper.createObjectNode()
    new File(data).list().filter(_.endsWith(".parquet")).sorted.foreach { f =>
      tables.put(f.stripSuffix(".parquet"), spark.read.parquet(s"$data/$f").count())
    }
    root.set[ObjectNode]("tables", tables)
    root.get("queries").elements().forEachRemaining { q =>
      val name = q.get("name").asText
      val df = spark.read.parquet(s"$verifyDir/$name")
      require(!df.columns.contains("__verify_error"), s"$name failed in the Verify dump")
      q.asInstanceOf[ObjectNode].put("digest", Digest.render(Digest.frame(df).collect()(0)))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(file, root)
    println(s"""{"updated": ${root.get("queries").size}}""")
    spark.stop()
  }
}
