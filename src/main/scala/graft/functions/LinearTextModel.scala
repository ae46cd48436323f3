package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import graft.sources.LakeFiles
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** fn07: MODEL-BASED text classification as a native expression — the
  * fastText-architecture inference shape (Joulin et al. '16: mean of
  * bucket-hashed word/bigram features → linear classifier → argmax)
  * with BROADCAST WEIGHTS and a loadable weights-file format. This is
  * the upgrade path the heuristic operators declare: q47's stopword
  * language-ID and q104's hashed linear quality score are both special
  * cases of this model class, so a real CCNet/FineWeb-style
  * fastText-class model drops into the same expression by `load`ing
  * its weights file — no operator changes.
  *
  * Scale shape: the model rides the serialized expression to every
  * task exactly like a broadcast-hash-join side (weights are
  * reference-objects in generated code, not per-row closures);
  * inference is one code-point walk per document inside whole-stage
  * codegen — no token array, no UDF, no shuffle.
  *
  * Tokenization mirrors `split(lower(trim(text)), " ")` exactly (the
  * q47/fn04 contract), each token folds the [[PolyFingerprint]] hash
  * h = Σ cp·31^i mod 1e9+7, and the feature bucket is h mod `buckets`.
  * Optional word-BIGRAM features hash as (h₁·31 + h₂) mod 1e9+7.
  * Collisions follow the q114 hashing contract: distinct tokens may
  * share a bucket (spec'd against the fixture corpus); grow `buckets`
  * to shrink the rate, exactly as fastText does. */
final class LinearModel(val classes: Array[String], val buckets: Long,
                        val useBigrams: Boolean, val bias: Array[Float],
                        val rows: java.util.HashMap[java.lang.Long, Array[Float]])
    extends Serializable {
  require(classes.nonEmpty && bias.length == classes.length)

  private final val Mod = 1000000007L

  /** Per-class scores: bias + mean of feature-bucket weight rows —
    * one walk over the code points, no token materialization. A
    * production-sized DENSE model swaps the HashMap row store for a
    * flat float array without touching this walk. */
  def scores(text: String): Array[Double] = {
    val out = new Array[Double](classes.length)
    var c = 0
    while (c < out.length) { out(c) = bias(c); c += 1 }
    val str = text.trim.toLowerCase
    val acc = new Array[Double](classes.length)
    var nFeats = 0L
    var h = 0L        // current token hash
    var prev = -1L    // previous token hash (bigrams)
    def feed(feature: Long): Unit = {
      val row = rows.get(feature % buckets)
      if (row != null) {
        var i = 0
        while (i < acc.length) { acc(i) += row(i); i += 1 }
      }
      nFeats += 1
    }
    def endToken(): Unit = {
      feed(h)
      if (useBigrams && prev >= 0) feed((prev * 31 + h) % Mod)
      prev = h
      h = 0L
    }
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      if (cp == ' ') endToken()
      else h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    endToken()
    c = 0
    while (c < out.length) { out(c) += acc(c) / nFeats; c += 1 }
    out
  }

  /** Argmax class, first-index tie-break (= lexicon/class order —
    * q47's tie cascade). */
  def predict(text: String): String = {
    val s = scores(text)
    var best = 0
    var i = 1
    while (i < s.length) { if (s(i) > s(best)) best = i; i += 1 }
    classes(best)
  }
}

object LinearModel {
  private final val Mod = 1000000007L
  private final val Header = "graft-linear-v1"

  /** The feature-bucket sequence [[LinearModel.scores]] feeds, as data
    * — the SAME walk (trim/lower, ' '-split with empty tokens, rolling
    * 31-hash, optional bigrams), factored so the trainer consumes
    * exactly the features inference will see (training under a
    * different tokenization is the classic silent model killer; the
    * parity spec pins this walk == scores()). Duplicate occurrences
    * repeat in the output — scores() feeds per occurrence. */
  private[graft] def featureBuckets(text: String, buckets: Long,
                                    useBigrams: Boolean): Array[Long] = {
    val str = text.trim.toLowerCase
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var h = 0L
    var prev = -1L
    def endToken(): Unit = {
      out += h % buckets
      if (useBigrams && prev >= 0) out += (prev * 31 + h) % Mod % buckets
      prev = h
      h = 0L
    }
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      if (cp == ' ') endToken()
      else h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    endToken()
    out.toArray
  }

  /** Fixed-point scale for distributed gradient accumulation: per-doc
    * contributions round to longs at 1e8 BEFORE the cross-partition
    * sum, so the aggregate is an integer sum — bit-identical under any
    * partitioning or accumulation order (the q46/q72 long-scaling
    * discipline applied to training). */
  private final val GradScale = 1.0e8

  /** fn07 TRAINER: distributed full-batch softmax regression over the
    * [[featureBuckets]] hashed features — the missing leg of the model
    * story (inference, save/load, and the q47-lexicon compilation
    * existed; nothing in-engine FIT weights). Full-batch gradient
    * descent rather than SGD, deliberately: the gradient is a SUM over
    * documents, so each iteration is one map-side-combined aggregation
    * (order-free by the fixed-point trick above) and the fitted
    * weights are DETERMINISTIC for a given (corpus, knobs) on any
    * cluster layout — SGD's sequential dependence on visit order is
    * exactly what cannot be reproduced distributed. Epochs cost one
    * corpus pass each; the model state (buckets×classes floats) lives
    * on the driver and broadcasts per iteration — the same memory
    * class as the inference broadcast.
    *
    * Features are mean-of-bucket-rows, matching [[LinearModel.scores]]
    * exactly; labels come from any string column. Returns a model
    * whose [[save]]/[[load]] round-trip is the production weights
    * format (q199's upgrade path, now closable in-engine). */
  def fit(df: org.apache.spark.sql.DataFrame, textCol: String,
          labelCol: String, buckets: Long = 1L << 17,
          useBigrams: Boolean = false, iters: Int = 200,
          lr: Double = 4.0, l2: Double = 0.0): LinearModel = graft.Pins.scope {
    val spark = df.sparkSession
    import spark.implicits._
    val data = df
      .select(df.col(textCol).cast("string"), df.col(labelCol).cast("string"))
      .as[(String, String)]
    val classes = data.map(_._2).distinct().collect().sorted
    require(classes.nonEmpty, "fit: no rows / labels")
    val k = classes.length
    val classIdx = classes.zipWithIndex.toMap
    // one tokenization pass, reused every epoch
    val feats = data
      .map { case (t, l) => (featureBuckets(t, buckets, useBigrams),
        classIdx(l)) }
      .transform(graft.Pins.pin)
    val n = feats.count().toDouble
    var bias = new Array[Float](k)
    var rows = new java.util.HashMap[java.lang.Long, Array[Float]]()
    // AdaGrad accumulators (driver-side, hence deterministic): a
    // single global step size cannot serve both ends of a Zipfian
    // feature distribution — stopword buckets see gradients orders
    // of magnitude larger than the rare marker buckets that carry
    // the signal, so plain GD either oscillates on the former or
    // starves the latter (measured: ≤ 0.38 held-out agreement at
    // any fixed lr). Per-coordinate sqrt-normalization fixes the
    // conditioning (Duchi et al. '11).
    val gsqBias = new Array[Double](k)
    val gsqRows = new java.util.HashMap[java.lang.Long, Array[Double]]()
    var it = 0
    while (it < iters) {
      val bcB = spark.sparkContext.broadcast(bias)
      val bcW = spark.sparkContext.broadcast(rows)
      // per-partition (bucket -> long grads, bias long grads), merged
      // associatively — one aggregation job per epoch
      val zero = (new java.util.HashMap[java.lang.Long, Array[Long]](),
        new Array[Long](k))
      def seqOp(acc: (java.util.HashMap[java.lang.Long, Array[Long]], Array[Long]),
                doc: (Array[Long], Int)) = {
        val (fb, y) = doc
        val w = bcW.value
        // accumulate-then-divide-once, mirroring scores() exactly
        val acc0 = new Array[Double](k)
        var i = 0
        while (i < fb.length) {
          val row = w.get(fb(i))
          if (row != null) {
            var cc = 0
            while (cc < k) { acc0(cc) += row(cc); cc += 1 }
          }
          i += 1
        }
        val s = new Array[Double](k)
        var c = 0
        while (c < k) {
          s(c) = bcB.value(c) + acc0(c) / fb.length; c += 1
        }
        // softmax (max-shifted) → err = p - onehot(y)
        var mx = s(0); c = 1
        while (c < k) { if (s(c) > mx) mx = s(c); c += 1 }
        var z = 0.0; c = 0
        while (c < k) { s(c) = math.exp(s(c) - mx); z += s(c); c += 1 }
        c = 0
        while (c < k) {
          s(c) = s(c) / z - (if (c == y) 1.0 else 0.0)
          acc._2(c) += math.round(s(c) * GradScale)
          c += 1
        }
        i = 0
        while (i < fb.length) {
          val g = acc._1.computeIfAbsent(fb(i), _ => new Array[Long](k))
          c = 0
          while (c < k) {
            g(c) += math.round(s(c) / fb.length * GradScale); c += 1
          }
          i += 1
        }
        acc
      }
      def combOp(a: (java.util.HashMap[java.lang.Long, Array[Long]], Array[Long]),
                 b: (java.util.HashMap[java.lang.Long, Array[Long]], Array[Long])) = {
        b._1.forEach { (bkt, g) =>
          val t = a._1.computeIfAbsent(bkt, _ => new Array[Long](k))
          var c = 0
          while (c < k) { t(c) += g(c); c += 1 }
        }
        var c = 0
        while (c < k) { a._2(c) += b._2(c); c += 1 }
        a
      }
      val (gradW, gradB) = feats.rdd.treeAggregate(zero)(seqOp, combOp)
      val nextBias = new Array[Float](k)
      var c = 0
      while (c < k) {
        val g = (gradB(c) / GradScale) / n
        gsqBias(c) += g * g
        nextBias(c) =
          (bias(c) - lr * g / (math.sqrt(gsqBias(c)) + 1e-10)).toFloat
        c += 1
      }
      val nextRows = new java.util.HashMap[java.lang.Long, Array[Float]]()
      rows.forEach { (bkt, w) => nextRows.put(bkt, w.clone()) }
      gradW.forEach { (bkt, g) =>
        val w = nextRows.computeIfAbsent(bkt, _ => new Array[Float](k))
        val gs = gsqRows.computeIfAbsent(bkt, _ => new Array[Double](k))
        var cc = 0
        while (cc < k) {
          // l2 is a knob, default OFF: on the q47 weak-label task it
          // measured strictly worse (1e-4 → −0.02 held-out, 1e-2 →
          // collapse) — the rare marker features that carry the
          // signal decay as fast as the memorization features
          val gg = (g(cc) / GradScale) / n + l2 * w(cc)
          gs(cc) += gg * gg
          w(cc) = (w(cc) - lr * gg / (math.sqrt(gs(cc)) + 1e-10)).toFloat
          cc += 1
        }
      }
      bias = nextBias
      rows = nextRows
      bcB.destroy(); bcW.destroy()
      it += 1
    }
    new LinearModel(classes, buckets, useBigrams, bias, rows)
  }

  private def tokenHash(tok: String): Long = {
    var h = 0L
    var i = 0
    while (i < tok.length) {
      val cp = tok.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  /** Build the model that reproduces a marker-lexicon argmax
    * classifier (q47's heuristic as a LinearModel): weight 1 for class
    * c in the bucket of each of c's marker words, zero bias. The
    * heuristic becomes a special case of the model — the parity spec
    * pins them equal — and a trained weights file replaces it via
    * [[load]] with no operator change. */
  def fromLexicons(lexicons: Seq[(String, Seq[String])],
                   buckets: Long = 1L << 20): LinearModel = {
    val classes = lexicons.map(_._1).toArray
    val rows = new java.util.HashMap[java.lang.Long, Array[Float]]()
    lexicons.zipWithIndex.foreach { case ((_, words), c) =>
      words.foreach { w =>
        val b = tokenHash(w.trim.toLowerCase) % buckets
        val row = rows.computeIfAbsent(b, _ => new Array[Float](classes.length))
        row(c) += 1.0f
      }
    }
    new LinearModel(classes, buckets, useBigrams = false,
      new Array[Float](classes.length), rows)
  }

  /** Line-oriented weights-file format (human-diffable, store-agnostic
    * via the Hadoop FS API — same transport as the lake manifests):
    * header, classes, buckets, bigram flag, bias row, then one sparse
    * `w,<bucket>,<w_c0>,<w_c1>,…` row per non-zero bucket.
    *
    * TOKENIZATION CAVEAT for externally trained weights: inference
    * mirrors `split(lower(trim(text)), " ")` exactly (the q47/fn04
    * contract), so CONSECUTIVE spaces produce empty tokens that hash
    * to h=0 and feed bucket 0 — a model trained under a tokenizer
    * that collapses whitespace runs (fastText's default) will see an
    * extra bucket-0 feature per run on multi-space documents. Either
    * train under the same split contract, or pre-normalize whitespace
    * (q54) upstream of both training and inference. */
  def save(spark: SparkSession, path: String, m: LinearModel): Unit = {
    val sb = new StringBuilder
    sb ++= Header += '\n'
    sb ++= "classes," + m.classes.mkString(",") += '\n'
    sb ++= s"buckets,${m.buckets}" += '\n'
    sb ++= s"bigrams,${m.useBigrams}" += '\n'
    sb ++= "bias," + m.bias.mkString(",") += '\n'
    val keys = m.rows.keySet().toArray(new Array[java.lang.Long](0)).sorted
    keys.foreach { k =>
      sb ++= s"w,$k," + m.rows.get(k).mkString(",") += '\n'
    }
    val p = new org.apache.hadoop.fs.Path(path)
    LakeFiles.write(LakeFiles.fs(spark, p), p, sb.result(), overwrite = true)
  }

  def load(spark: SparkSession, path: String): LinearModel = {
    val p = new org.apache.hadoop.fs.Path(path)
    val lines = LakeFiles.read(LakeFiles.fs(spark, p), p).split("\n").filter(_.nonEmpty)
    require(lines.head == Header, s"not a $Header file: ${lines.head}")
    def field(tag: String): String = {
      val l = lines.find(_.startsWith(tag + ",")).getOrElse(
        throw new IllegalArgumentException(s"missing $tag line"))
      l.substring(tag.length + 1)
    }
    val classes = field("classes").split(",")
    val buckets = field("buckets").toLong
    val bigrams = field("bigrams").toBoolean
    val bias = field("bias").split(",").map(_.toFloat)
    val rows = new java.util.HashMap[java.lang.Long, Array[Float]]()
    lines.filter(_.startsWith("w,")).foreach { l =>
      val parts = l.split(",")
      rows.put(parts(1).toLong, parts.drop(2).map(_.toFloat))
    }
    new LinearModel(classes, buckets, bigrams, bias, rows)
  }
}

/** The inference expression: text → argmax class name, the model as a
  * codegen reference object (broadcast with the plan, evaluated inside
  * whole-stage codegen). */
case class ModelPredict(child: Expression, model: LinearModel)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_model_predict"
  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(model.predict(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("graftLinearModel", model,
      classOf[LinearModel].getName)
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString($m.predict($c.toString()))")
  }

  override protected def withNewChildInternal(newChild: Expression): ModelPredict =
    copy(child = newChild)
}

object ModelPredict {
  def apply(c: Column, model: LinearModel): Column =
    ColumnBridge.column(ModelPredict(ColumnBridge.expression(c), model))
}

/** The score variant: text → the model's score for one class as a
  * double — the REGRESSION/quality shape (a 1-class model over the
  * fn04 bucket hash is exactly q104's scorer class, now with loadable
  * weights instead of the derived hash weights). Same broadcast and
  * codegen story as [[ModelPredict]]. */
case class ModelScore(child: Expression, model: LinearModel, classIdx: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(classIdx >= 0 && classIdx < model.classes.length,
    s"classIdx $classIdx out of range for ${model.classes.length} classes")

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_model_score"
  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    model.scores(input.asInstanceOf[UTF8String].toString)(classIdx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("graftLinearModel", model,
      classOf[LinearModel].getName)
    defineCodeGen(ctx, ev, c => s"$m.scores($c.toString())[$classIdx]")
  }

  override protected def withNewChildInternal(newChild: Expression): ModelScore =
    copy(child = newChild)
}

object ModelScore {
  def apply(c: Column, model: LinearModel, classIdx: Int = 0): Column =
    ColumnBridge.column(ModelScore(ColumnBridge.expression(c), model, classIdx))
}
