package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{CosineSim, DeflateLen, DotF32, HmacSha256Hex, IdnToAscii, MinHashSketch, MisraGriesAgg, NfkcNormalize, PqCodes, PqLut, SimHash64Agg, TopCells, VectorMeanAgg, VectorMomentsAgg}

/** Registers graft's native expressions as SQL functions on a session.
  *
  * Two paths: `GraftExtensions` for `spark.sql.extensions` users, and
  * `GraftFunctions.register(spark)` for sessions created without the
  * extension (e.g. the `GraftSession` entry points). Registration
  * is idempotent.
  */
object GraftFunctions {
  private[graft] case class Fn(name: String, builder: Seq[Expression] => Expression)

  /** Optional trailing int-literal argument (sketch sizes, dims):
    * one extraction + one error format for every parameterized
    * aggregate in the registry.
    */
  private def intLit(args: Seq[Expression], idx: Int, what: String,
      default: Int): Int =
    if (args.length <= idx) default
    else args(idx) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an int literal, got $other")
    }

  private[graft] val fns = Seq(
    Fn("hmac_sha256_hex", { args =>
      require(args.length == 2, "hmac_sha256_hex(data, key)")
      HmacSha256Hex(args(0), args(1))
    }),
    Fn("cosine_sim", { args =>
      require(args.length == 2, "cosine_sim(a, b)")
      CosineSim(args(0), args(1))
    }),
    Fn("dot_f32", { args =>
      require(args.length == 2, "dot_f32(a, b)")
      DotF32(args(0), args(1))
    }),
    Fn("idn_to_ascii", { args =>
      require(args.length == 1, "idn_to_ascii(host)")
      IdnToAscii(args(0))
    }),
    Fn("nfkc_normalize", { args =>
      require(args.length == 1, "nfkc_normalize(text)")
      NfkcNormalize(args(0))
    }),
    // aggregate: the analyzer wraps the returned AggregateFunction
    Fn("minhash_sketch", { args =>
      require(args.length == 2 || args.length == 3,
        "minhash_sketch(h1, h2[, numHashes])")
      MinHashSketch(args(0), args(1),
        intLit(args, 2, "minhash_sketch numHashes", 64))
    }),
    Fn("simhash64_agg", { args =>
      require(args.length == 1, "simhash64_agg(h)")
      SimHash64Agg(args(0))
    }),
    // thin registry door onto Spark's own codegen'd bloom-membership
    // predicate (the one its runtime row-filtering injects): arg 0
    // must be a FOLDABLE binary (a driver-built filter literal —
    // BloomFilterMightContain type-checks that itself), arg 1 the
    // xxhash64 long being probed
    Fn("bloom_contains", { args =>
      require(args.length == 2, "bloom_contains(filter, value)")
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        args(0), args(1))
    }),
    Fn("mg_summary", { args =>
      require(args.length == 1 || args.length == 2,
        "mg_summary(token[, capacity])")
      MisraGriesAgg(args(0), intLit(args, 1, "mg_summary capacity", 256))
    }),
    Fn("vector_mean", { args =>
      require(args.length == 1 || args.length == 2, "vector_mean(v[, dim])")
      VectorMeanAgg(args(0), intLit(args, 1, "vector_mean dim", 64))
    }),
    Fn("vector_moments", { args =>
      require(args.length == 1 || args.length == 2, "vector_moments(v[, dim])")
      VectorMomentsAgg(args(0), intLit(args, 1, "vector_moments dim", 64))
    }),
    Fn("deflate_len", { args =>
      require(args.length == 1, "deflate_len(text)")
      DeflateLen(args(0))
    }),
    // the IVF/PQ loop kernels (r14 opt round): constant generated-code
    // size in the centroid/codeword count — the unrolled per-cell
    // dot_f32 forms they replace blow Janino's 64 KB method limit at
    // the √N auto geometry and drop the hottest ANN stages to
    // interpreted execution
    Fn("top_cells", { args =>
      require(args.length == 3, "top_cells(emb, centroidsLit, nProbe)")
      TopCells(args(0), args(1), intLit(args, 2, "top_cells nProbe", 1))
    }),
    Fn("pq_codes", { args =>
      require(args.length == 2, "pq_codes(emb, booksLit)")
      PqCodes(args(0), args(1))
    }),
    Fn("pq_lut", { args =>
      require(args.length == 2, "pq_lut(emb, booksLit)")
      PqLut(args(0), args(1))
    }),
    Fn("aligned_hamming", { args =>
      require(args.length == 2, "aligned_hamming(framesA, framesB)")
      graft.plans.AlignedHamming(args(0), args(1))
    })
  )

  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!registry.functionExists(id)) {
        registry.registerFunction(
          id,
          new ExpressionInfo("graft", f.name),
          f.builder)
      }
    }
  }
}

/** `spark.sql.extensions=graft.GraftExtensions` entry point.
  *
  * Uses the SAME builder lambdas as `GraftFunctions.register` so both
  * registration paths parse optional literal args identically — e.g.
  * `vector_mean(emb, 128)` and `minhash_sketch(h1, h2, 128)` honor the
  * explicit size on an extensions-configured cluster exactly as they
  * do on a session-registered one (a diverging copy here once silently
  * dropped the third argument).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach { f =>
      ext.injectFunction((
        FunctionIdentifier(f.name),
        new ExpressionInfo("graft", f.name),
        f.builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.CosineSignToDot)
  }
}
