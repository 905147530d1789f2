package graft.tools
import org.apache.spark.sql.SparkSession

object NanProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/tmp/nanprobe"
    Seq(1.0, 2.0, Double.NaN, 3.0).toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$dir/with_nan")
    Seq(1.0f, 2.0f, Float.NaN).toDF("f").coalesce(1).write.mode("overwrite").parquet(s"$dir/with_nanf")
    Seq(1.0, 2.0, 3.0).toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$dir/clean")
    Seq(Double.NaN, Double.NaN).toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$dir/all_nan")
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    for (d <- Seq("with_nan", "with_nanf", "clean", "all_nan")) {
      val fs = new Path(s"$dir/$d").getFileSystem(conf)
      val f = fs.listStatus(new Path(s"$dir/$d")).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      graft.sources.Store.readFooter(conf, f).getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          val st = c.getStatistics
          println(s"$d col=${c.getPath} stats=$st hasNonNull=${st.hasNonNullValue} " +
            s"min=${if (st.hasNonNullValue) st.genericGetMin else "-"} max=${if (st.hasNonNullValue) st.genericGetMax else "-"} nulls=${st.getNumNulls}")
        }
      }
    }
    spark.stop()
  }
}
