package perfbench;

import java.io.File;
import java.util.ArrayList;
import java.util.Collections;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import com.fasterxml.jackson.databind.ObjectMapper;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.storage.StorageLevel;
import scala.Tuple2;
import scala.jdk.javaapi.CollectionConverters;

import graft.Tables$;
import graft.functions.NativeExpressions$;
import graft.operators.Dedup$;
import graft.operators.Sampling$;

import static org.apache.spark.sql.functions.*;

/**
 * Helper entry points that call the engine's public functions.
 *
 *   Probe sql <out.json> <stage,...>      oracle SQL of the named stages
 *   Probe measure <corpusDir> <out.json>  Sampling.textDensity of the documents table
 *                                         and ns/row of seven NativeExpressions kernels
 *
 * `measure` creates a local session shaped like the
 * `graft.Pipeline` CLI's (same cores, shuffle partitions, time zone,
 * parquet and AQE settings).
 */
public class Probe {
  public static void main(String[] args) throws Exception {
    Map<String, Object> out = new LinkedHashMap<>();
    switch (args[0]) {
      case "sql": {
        Map<String, String> all = CollectionConverters.asJava(graft.SparkEntry$.MODULE$.oracleSql());
        for (String s : args[2].split(",")) {
          if (!all.containsKey(s)) throw new IllegalArgumentException("no oracle SQL for " + s);
          out.put(s, all.get(s));
        }
        break;
      }
      case "measure": {
        SparkSession spark = session();
        Tuple2<Object, Object> d = Sampling$.MODULE$.textDensity(Tables$.MODULE$.documents(spark, args[1]));
        out.put("n_docs", d._1());
        out.put("n_distinct", d._2());
        out.put("text_density", ((Long) d._1()).doubleValue() / ((Long) d._2()).doubleValue());
        out.putAll(kernels(spark, args[1]));
        spark.stop();
        break;
      }
      default:
        throw new IllegalArgumentException("unknown mode " + args[0]);
    }
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(new File(args[args[0].equals("sql") ? 1 : 2]), out);
  }

  static SparkSession session() {
    String cpus = System.getenv().getOrDefault("SPARK_GRAFT_CPUS", "4");
    SparkSession spark = SparkSession.builder()
        .master("local[" + cpus + "]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    return spark;
  }

  /** Rows a kernel is timed over: the corpus rows, tiled to at least this many. */
  static final long MIN_ROWS = 20_000;
  static final int REPEATS = 3;

  static Map<String, Object> kernels(SparkSession spark, String dir) {
    NativeExpressions$ nx = NativeExpressions$.MODULE$;
    Dataset<Row> docs = Tables$.MODULE$.documents(spark, dir).select(col("text"));
    Dataset<Row> text = tile(docs);
    Dataset<Row> sh = tile(docs.select(nx.wordShingles(col("text"), 3).as("sh")));
    Dataset<Row> emb = Tables$.MODULE$.embeddings(spark, dir);
    // Centroids by the fixture seed rule of the engine's Lloyd's stages (vec_id % 50 = 0).
    Dataset<Row> cents = emb.where(col("vec_id").mod(50).equalTo(0))
        .agg(collect_list(struct(col("vec_id").as("c_id"), col("embedding").as("v"))).as("cents"));
    Dataset<Row> vecs = tile(emb.select(col("embedding").as("v")).crossJoin(cents));

    Map<String, Object> res = new LinkedHashMap<>();
    res.put("rows_text", text.count());
    res.put("rows_vectors", vecs.count());
    Column t = col("text");
    res.put("kernel.wordShingles.ns_per_row", netNs(text, nx.wordShingles(t, 3), "text"));
    res.put("kernel.minHashSigs.ns_per_row",
        netNs(sh, nx.minHashSigs(col("sh"), Dedup$.MODULE$.K(), Dedup$.MODULE$.P()), "sh"));
    res.put("kernel.simHash32.ns_per_row", netNs(text, nx.simHash32(t), "text"));
    res.put("kernel.ngramRepetition.ns_per_row", netNs(text, nx.ngramRepetition(t, 2), "text"));
    res.put("kernel.wordNgrams.ns_per_row", netNs(text, nx.wordNgrams(t, 2), "text"));
    res.put("kernel.rewardStats.ns_per_row", netNs(text, nx.rewardStats(t), "text"));
    res.put("kernel.argminL2.ns_per_row", netNs(vecs, nx.argminL2(col("v"), col("cents")), "v", "cents"));
    return res;
  }

  /** The frame repeated until it holds at least MIN_ROWS rows, cached in memory. */
  static Dataset<Row> tile(Dataset<Row> df) {
    long n = Math.max(df.count(), 1);
    long reps = Math.max(1, (MIN_ROWS + n - 1) / n);
    Dataset<Row> t = df.withColumn("__rep", explode(sequence(lit(1), lit(reps)))).drop("__rep")
        .repartition(Integer.parseInt(System.getenv().getOrDefault("SPARK_GRAFT_CPUS", "4")))
        .persist(StorageLevel.MEMORY_ONLY());
    t.count();
    return t;
  }

  /** Median time of projecting the kernel minus median time of projecting its inputs, per row. */
  static double netNs(Dataset<Row> df, Column kernel, String... inputs) {
    Column[] in = new Column[inputs.length];
    for (int i = 0; i < inputs.length; i++) in[i] = col(inputs[i]);
    Dataset<Row> base = df.select(in);
    Dataset<Row> withKernel = df.select(kernel.as("k"));
    long rows = df.count();
    List<Long> tb = new ArrayList<>(), tk = new ArrayList<>();
    for (int i = 0; i < REPEATS + 1; i++) {
      long b = timeNoop(base), k = timeNoop(withKernel);
      if (i >= 1) { tb.add(b); tk.add(k); }
    }
    Collections.sort(tb);
    Collections.sort(tk);
    return (double) (tk.get(REPEATS / 2) - tb.get(REPEATS / 2)) / rows;
  }

  static long timeNoop(Dataset<Row> df) {
    long t0 = System.nanoTime();
    df.write().format("noop").mode("overwrite").save();
    return System.nanoTime() - t0;
  }
}
