package graft.embed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pluggable embedding stage (reference: the collection-bound
  * SentenceTransformer at /root/reference/src/PDFToChromaIngester.py:41-49).
  *
  * The default implementation is a deterministic feature-hashing embedder:
  * pure JVM, no model weights, unit-norm output — so the engine is
  * self-contained and every test is reproducible. A real model (e.g. ONNX
  * MiniLM) would plug in behind the same trait with one session per
  * partition and batched inference, exactly like the reference batches
  * `encode(List[str])`.
  */
trait Embedder extends Serializable {
  def dim: Int
  /** Batched encode — one call per partition-batch, mirroring the
    * reference's batched `SentenceTransformer.encode`. */
  def encode(texts: Seq[String]): Seq[Array[Float]] = texts.map(encodeOne)
  def encodeOne(text: String): Array[Float]
  /** Stable identity of this embedder — the basis of the collection
    * manifest ([[graft.store.CollectionManifest]]) that binds a collection
    * to its embedding space, the analog of Chroma binding the embedding
    * function at create_collection
    * (/root/reference/src/PDFToChromaIngester.py:51-54). Two embedders
    * with equal identity produce identical vectors for identical text. */
  def identity: EmbedderId = EmbedderId(getClass.getSimpleName, "", dim, "", Nil)
}

/** Value identity of an embedder: `family` + `resource` + `bpeMerges` name
  * the weight/tokenizer configuration (the embedding SPACE together with
  * `dim`); `prefix` is the instruction convention applied to this side of
  * an asymmetric pair (part of the identity, NOT of the space — passage
  * and query embedders of one pair share a space but differ in prefix). */
final case class EmbedderId(family: String, resource: String, dim: Int,
                            prefix: String, bpeMerges: Seq[(String, String)]) {
  /** The embedding space — what must match between the vectors stored in
    * a collection and the vectors a query is encoded into. */
  def space: (String, String, Int, Seq[(String, String)]) =
    (family, resource, dim, bpeMerges)
}

/** Feature-hashing embedder: each lowercase whitespace token (and its
  * 3-gram shingles, for a little sub-word signal) hashes to `dim` buckets
  * with a sign bit; the accumulated vector is L2-normalized. Deterministic
  * across JVMs (murmur-free: explicit FNV-1a).
  */
final case class HashEmbedder(dim: Int = 384, prefix: String = "") extends Embedder {
  override def identity: EmbedderId = EmbedderId("hash", "", dim, prefix, Nil)

  @inline private def fnv1a(s: String, seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  override def encodeOne(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    if (text == null) return v
    val toks = (prefix + text).toLowerCase.split("\\s+")
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (tok.nonEmpty) {
        val h = fnv1a(tok, 0x9e3779b97f4a7c15L)
        val idx = java.lang.Math.floorMod(h, dim.toLong).toInt
        val sign = if ((h >>> 62 & 1L) == 0L) 1f else -1f
        v(idx) += sign
        // char 3-grams for sub-word signal
        var i = 0
        while (i + 3 <= tok.length) {
          val g = fnv1a(tok.substring(i, i + 3), 0x85ebca6b0b131a2fL)
          v(java.lang.Math.floorMod(g, dim.toLong).toInt) += (if ((g >>> 62 & 1L) == 0L) 0.5f else -0.5f)
          i += 1
        }
      }
      t += 1
    }
    var norm = 0.0
    var i = 0
    while (i < dim) { norm += v(i).toDouble * v(i); i += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      i = 0
      while (i < dim) { v(i) *= inv; i += 1 }
    }
    v
  }
}

/** Model-backed embedder: a 2-layer MLP (tanh hidden layer, L2-normalized
  * output) over hashed bag-of-words features, with weights loaded from a
  * binary file on the classpath. Deliberately tiny, but it exercises the
  * FULL production seam the reference's `SentenceTransformer.encode` needs
  * (/root/reference/src/PDFToChromaIngester.py:41-49): weights deserialized
  * once per executor JVM (the `@transient lazy val` is per deserialized
  * instance, i.e. per task, so it resolves through the JVM-wide
  * [[WeightMemo]] in [[MlpEmbedder.load]] — the Spark analog of
  * one-model-per-worker), inference batched per partition through
  * [[Embedder.encode]], output dimension decoupled from input features. A
  * real ONNX/transformer model swaps in by replacing `forward` and the
  * weight format; nothing in the pipeline topology changes (proved by the
  * swap test in EmbedderSpec).
  *
  * Weight file format (big-endian, via DataOutputStream): magic "GMLP",
  * int dimIn, int dimHidden, int dimOut, then float32 arrays
  * w1[dimIn*dimHidden], b1[dimHidden], w2[dimHidden*dimOut], b2[dimOut].
  */
final case class MlpEmbedder(resource: String = "/graft/toy_mlp.bin") extends Embedder {

  @transient private[graft] lazy val model: MlpEmbedder.Weights =
    MlpEmbedder.load(resource)

  override def dim: Int = model.dimOut

  override def identity: EmbedderId = EmbedderId("mlp", resource, dim, "", Nil)

  override def encodeOne(text: String): Array[Float] = {
    val m = model
    // hashed bag-of-words input, L2-normalized (same tokenization as
    // HashEmbedder so the two embedders are drop-in swappable)
    val x = HashEmbedder(dim = m.dimIn).encodeOne(text)
    m.forward(x)
  }
}

object MlpEmbedder {
  final case class Weights(dimIn: Int, dimHidden: Int, dimOut: Int,
                           w1: Array[Float], b1: Array[Float],
                           w2: Array[Float], b2: Array[Float]) {
    def forward(x: Array[Float]): Array[Float] = {
      val h = new Array[Float](dimHidden)
      var j = 0
      while (j < dimHidden) {
        var acc = b1(j).toDouble
        var i = 0
        while (i < dimIn) { acc += x(i) * w1(i * dimHidden + j); i += 1 }
        h(j) = math.tanh(acc).toFloat
        j += 1
      }
      val out = new Array[Float](dimOut)
      var norm = 0.0
      var o = 0
      while (o < dimOut) {
        var acc = b2(o).toDouble
        var j2 = 0
        while (j2 < dimHidden) { acc += h(j2) * w2(j2 * dimOut + o); j2 += 1 }
        out(o) = acc.toFloat
        norm += acc * acc
        o += 1
      }
      if (norm > 0) {
        val inv = (1.0 / math.sqrt(norm)).toFloat
        o = 0
        while (o < dimOut) { out(o) *= inv; o += 1 }
      }
      out
    }
  }

  private val loaded = new WeightMemo[Weights]

  /** The weights behind a classpath resource, read once per JVM. */
  def load(resource: String): Weights = loaded(resource, ())(read(resource))

  private[graft] def read(resource: String): Weights = {
    val in = Option(getClass.getResourceAsStream(resource))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"embedder weights not on classpath: $resource"))
    val d = new java.io.DataInputStream(new java.io.BufferedInputStream(in))
    try {
      val magic = new Array[Byte](4)
      d.readFully(magic)
      require(new String(magic, "US-ASCII") == "GMLP",
        s"bad weight-file magic in $resource")
      val dimIn = d.readInt(); val dimHidden = d.readInt(); val dimOut = d.readInt()
      def floats(n: Int): Array[Float] = {
        val a = new Array[Float](n)
        var i = 0
        while (i < n) { a(i) = d.readFloat(); i += 1 }
        a
      }
      Weights(dimIn, dimHidden, dimOut,
        floats(dimIn * dimHidden), floats(dimHidden),
        floats(dimHidden * dimOut), floats(dimOut))
    } finally d.close()
  }

  /** Deterministic weight-file writer (the checked-in fixture's recorded
    * provenance): xorshift64* PRNG from a fixed seed, uniform in
    * [-1/sqrt(fanIn), 1/sqrt(fanIn)] per layer. */
  def writeToyWeights(path: java.nio.file.Path, dimIn: Int = 128,
                      dimHidden: Int = 32, dimOut: Int = 32,
                      seed: Long = 0x5eed5eed5eedL): Unit = {
    var s = seed
    def nextUniform(): Double = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      val u = (s * 0x2545f4914f6cdd1dL >>> 11).toDouble / (1L << 53).toDouble
      u * 2.0 - 1.0
    }
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path)))
    try {
      out.write("GMLP".getBytes("US-ASCII"))
      out.writeInt(dimIn); out.writeInt(dimHidden); out.writeInt(dimOut)
      def layer(n: Int, fanIn: Int): Unit = {
        val bound = 1.0 / math.sqrt(fanIn.toDouble)
        var i = 0
        while (i < n) { out.writeFloat((nextUniform() * bound).toFloat); i += 1 }
      }
      layer(dimIn * dimHidden, dimIn); layer(dimHidden, dimIn)
      layer(dimHidden * dimOut, dimHidden); layer(dimOut, dimHidden)
    } finally out.close()
  }
}

/** JVM-wide memo of loaded embedder weights. An embedder's
  * `@transient lazy val` model lives per DESERIALIZED instance, and Spark
  * deserializes the embedder once per task, so without this every task
  * re-read its checkpoint. An entry is reused while its `stamp` (file
  * size and mtime, or `()` for an immutable classpath resource) is
  * unchanged and replaced when it changes, so a key holds at most one
  * weight set. Callers must treat the shared weights as read-only. */
private[embed] final class WeightMemo[W <: AnyRef] {
  private val loaded = new java.util.concurrent.ConcurrentHashMap[String, (Any, W)]()

  def apply(key: String, stamp: Any)(read: => W): W =
    loaded.compute(key, (_, old) =>
      if (old != null && old._1 == stamp) old else (stamp, read))._2
}

/** BGE/E5-style asymmetric instruction prefixes (reference:
  * /root/reference/src/ChromaCloudIngester.py:52,181 — passages embed as
  * "passage: ...", queries as "query: ..."): one weight set, two text
  * conventions. Build the pair with [[Embedders.asymmetric]]. */
final case class PrefixConvention(passage: String = "passage: ",
                                  query: String = "query: ")

/** Single-block transformer encoder with weights from a checked-in binary
  * — the last step of the production seam before a real pretrained model
  * (reference: the SentenceTransformer at
  * /root/reference/src/PDFToChromaIngester.py:41-49): hashed-vocab token
  * ids (vocab-free hash embeddings), learned token + position embeddings,
  * multi-head self-attention, residual + LayerNorm, GELU FFN, mean
  * pooling, L2 norm. Everything a MiniLM/BGE forward pass does per block,
  * at toy width; an ONNX runtime swaps in behind the same trait with the
  * weight blob replaced and `forward` delegated — the per-executor lazy
  * load and per-partition batching (Embedders.embed) are unchanged.
  *
  * Weight file format (big-endian): magic "GTRF", ints vocab, d, heads,
  * dff, maxLen, then float32 arrays tokEmb[vocab*d], posEmb[maxLen*d],
  * lnE g[d] b[d], Wq[d*d] bq[d], Wk bk, Wv bv, Wo bo, ln1 g b,
  * W1[d*dff] b1[dff], W2[dff*d] b2[d], ln2 g b.
  */
final case class TransformerEmbedder(resource: String = "/graft/toy_transformer.bin",
                                     prefix: String = "",
                                     bpeMerges: Seq[(String, String)] = Nil)
    extends Embedder {

  @transient private[graft] lazy val model: TransformerEmbedder.Weights =
    TransformerEmbedder.load(resource)

  // rank map built once per (deserialized) embedder instance, not per doc
  @transient private lazy val bpeRank: Map[(String, String), Int] =
    bpeMerges.zipWithIndex.toMap

  /** A pretrained checkpoint's own tokenizer: a `vocab.txt` beside the
    * `.safetensors` file switches tokenization to WordPiece over the
    * checkpoint's vocabulary (row order is part of the model — hashing
    * would scramble it). The vocab rides WITH the resource, so the
    * embedder identity (resource path) still names the full
    * configuration and the collection binding stays sound. */
  @transient private lazy val wordPiece: Option[WordPiece] =
    if (!resource.endsWith(".safetensors") &&
        !resource.endsWith(".safetensors.index.json")) None
    else {
      val p = java.nio.file.Paths.get(resource).toAbsolutePath.getParent
      val v = p.resolve("vocab.txt")
      if (java.nio.file.Files.isRegularFile(v)) Some(WordPiece.load(v.toString))
      else None
    }

  override def dim: Int = model.d

  override def identity: EmbedderId =
    EmbedderId("transformer", resource, dim, prefix, bpeMerges)

  /** Token stream: whitespace words by default; with a trained merge
    * list ([[graft.text.Bpe.train]]) each word is SUBWORD-tokenized
    * before hashing into the embedding table — the reference pipeline's
    * shape (SentenceTransformer's WordPiece,
    * /root/reference/src/PDFToChromaIngester.py:43), where morphological
    * variants share stem tokens instead of hashing to unrelated rows.
    * The retrieval value of the subword path is pinned in EmbedderSpec
    * (recall on suffix-varied queries vs the whole-word baseline). */
  private def tokenize(text: String, maxLen: Int): Array[String] = {
    val words = text.toLowerCase.split("\\s+").iterator.filter(_.nonEmpty)
    val toks =
      if (bpeMerges.isEmpty) words
      else words.flatMap(w => graft.text.Bpe.encodeWord(w, bpeRank))
    toks.take(maxLen).toArray
  }

  override def encodeOne(text: String): Array[Float] = {
    val m = model
    if (text == null) return new Array[Float](m.d)
    val ids = wordPiece match {
      case Some(wp) =>
        // fail fast with the real cause: a mismatched vocab.txt would
        // otherwise surface as an opaque per-row AIOOBE inside forward
        require(wp.vocab.size <= m.vocab,
          s"vocab.txt beside $resource has ${wp.vocab.size} entries but the " +
            s"checkpoint's embedding table has ${m.vocab} rows — wrong vocab file")
        wp.encode(prefix + text, m.maxLen)
      case None =>
        tokenize(prefix + text, m.maxLen).map(TransformerEmbedder.tokenId(_, m.vocab))
    }
    if (ids.isEmpty) return new Array[Float](m.d)
    m.forward(ids)
  }
}

object TransformerEmbedder {
  /** FNV-1a token id in [0, vocab) — hash embeddings (vocab-free): the
    * embedding TABLE is learned, the token->row map is a hash. */
  private[embed] def tokenId(tok: String, vocab: Int): Int = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < tok.length) { h ^= tok.charAt(i); h *= 0x100000001b3L; i += 1 }
    java.lang.Math.floorMod(h, vocab.toLong).toInt
  }

  /** One encoder block's parameters (attention + FFN + two LayerNorms).
    * Projection matrices are stored [dIn*dOut] row-major INPUT-major
    * (`w(i*dOut + o)`) — the transpose of the HF checkpoint layout,
    * applied at load time ([[loadSafetensors]]). */
  final case class Block(wq: Array[Float], bq: Array[Float],
                         wk: Array[Float], bk: Array[Float],
                         wv: Array[Float], bv: Array[Float],
                         wo: Array[Float], bo: Array[Float],
                         ln1g: Array[Float], ln1b: Array[Float],
                         w1: Array[Float], b1: Array[Float],
                         w2: Array[Float], b2: Array[Float],
                         ln2g: Array[Float], ln2b: Array[Float])

  /** `pooling`: "mean" (sentence-transformers MiniLM convention — mean
    * over all positions) or "cls" (BGE/E5 convention — the [CLS]
    * position alone). Carried by the CHECKPOINT (`__metadata__.pooling`
    * in the safetensors file), not the embedder identity: the resource
    * path names the file, the file names its pooling — so two
    * embedders with equal identity still produce equal vectors. */
  final case class Weights(vocab: Int, d: Int, heads: Int, dff: Int, maxLen: Int,
                           tokEmb: Array[Float], posEmb: Array[Float],
                           lnEg: Array[Float], lnEb: Array[Float],
                           blocks: Seq[Block], pooling: String = "mean") {

    // x[n*d] row-major throughout; double accumulation everywhere so the
    // result is bit-deterministic across JVMs and batchings
    private def layerNorm(x: Array[Double], n: Int,
                          g: Array[Float], b: Array[Float]): Unit = {
      var r = 0
      while (r < n) {
        val off = r * d
        var mean = 0.0; var i = 0
        while (i < d) { mean += x(off + i); i += 1 }
        mean /= d
        var v = 0.0; i = 0
        while (i < d) { val c = x(off + i) - mean; v += c * c; i += 1 }
        val inv = 1.0 / math.sqrt(v / d + 1e-6)
        i = 0
        while (i < d) {
          x(off + i) = (x(off + i) - mean) * inv * g(i) + b(i); i += 1
        }
        r += 1
      }
    }

    // y[n*dOut] = x[n*dIn] * w[dIn*dOut] + b. Loop order r-i-o (not
    // r-o-i): the inner o loop is then stride-1 over BOTH w and y, so
    // the JIT vectorizes it and w streams through cache instead of
    // being walked at stride dOut per output — ~2x on the per-chunk
    // forward pass. BIT-IDENTICAL to the r-o-i form by construction:
    // each y(r,o) still accumulates b(o) + x(r,0)*w(0,o) +
    // x(r,1)*w(1,o) + ... in exactly that order (same operand sequence,
    // same double arithmetic), so the determinism contract holds.
    private def matmul(x: Array[Double], n: Int, dIn: Int, dOut: Int,
                       w: Array[Float], b: Array[Float]): Array[Double] = {
      val y = new Array[Double](n * dOut)
      var r = 0
      while (r < n) {
        val xo = r * dIn
        val yo = r * dOut
        var o = 0
        while (o < dOut) { y(yo + o) = b(o); o += 1 }
        var i = 0
        while (i < dIn) {
          val xi = x(xo + i)
          val wo = i * dOut
          o = 0
          while (o < dOut) { y(yo + o) += xi * w(wo + o); o += 1 }
          i += 1
        }
        r += 1
      }
      y
    }

    private def gelu(x: Double): Double = // tanh approximation (BERT's)
      0.5 * x * (1.0 + math.tanh(0.7978845608028654 * (x + 0.044715 * x * x * x)))

    /** One encoder block: multi-head self-attention + residual + LN,
      * GELU FFN + residual + LN. Returns the block's output rows. */
    private def applyBlock(x: Array[Double], n: Int, blk: Block): Array[Double] = {
      val q = matmul(x, n, d, d, blk.wq, blk.bq)
      val k = matmul(x, n, d, d, blk.wk, blk.bk)
      val v = matmul(x, n, d, d, blk.wv, blk.bv)
      val dh = d / heads
      val scale = 1.0 / math.sqrt(dh.toDouble)
      val ctx = new Array[Double](n * d)
      var h = 0
      while (h < heads) {
        val hoff = h * dh
        var qi = 0
        while (qi < n) {
          // scores over all keys, softmax in double
          val scores = new Array[Double](n)
          var mx = Double.NegativeInfinity
          var ki = 0
          while (ki < n) {
            var s = 0.0; var i = 0
            while (i < dh) { s += q(qi * d + hoff + i) * k(ki * d + hoff + i); i += 1 }
            s *= scale
            scores(ki) = s
            if (s > mx) mx = s
            ki += 1
          }
          var z = 0.0; ki = 0
          while (ki < n) { scores(ki) = math.exp(scores(ki) - mx); z += scores(ki); ki += 1 }
          ki = 0
          while (ki < n) {
            val a = scores(ki) / z
            var i = 0
            while (i < dh) { ctx(qi * d + hoff + i) += a * v(ki * d + hoff + i); i += 1 }
            ki += 1
          }
          qi += 1
        }
        h += 1
      }
      val attn = matmul(ctx, n, d, d, blk.wo, blk.bo)
      var i = 0
      while (i < n * d) { attn(i) += x(i); i += 1 } // residual
      layerNorm(attn, n, blk.ln1g, blk.ln1b)
      // FFN with residual
      val hid = matmul(attn, n, d, dff, blk.w1, blk.b1)
      i = 0
      while (i < n * dff) { hid(i) = gelu(hid(i)); i += 1 }
      val ff = matmul(hid, n, dff, d, blk.w2, blk.b2)
      i = 0
      while (i < n * d) { ff(i) += attn(i); i += 1 }
      layerNorm(ff, n, blk.ln2g, blk.ln2b)
      ff
    }

    def forward(ids: Array[Int]): Array[Float] = {
      val n = ids.length
      // embeddings: LN(tok + pos)
      var x = new Array[Double](n * d)
      var r = 0
      while (r < n) {
        var i = 0
        while (i < d) {
          x(r * d + i) = tokEmb(ids(r) * d + i).toDouble + posEmb(r * d + i)
          i += 1
        }
        r += 1
      }
      layerNorm(x, n, lnEg, lnEb)
      // the encoder stack — N blocks, not one: a real MiniLM (6) or
      // BGE-small (12) checkpoint runs through the same loop
      blocks.foreach { blk => x = applyBlock(x, n, blk) }
      // pool + L2 normalize
      val out = new Array[Double](d)
      if (pooling == "cls") {
        var i = 0
        while (i < d) { out(i) = x(i); i += 1 } // position 0 = [CLS]
      } else {
        r = 0
        while (r < n) {
          var i = 0
          while (i < d) { out(i) += x(r * d + i); i += 1 }
          r += 1
        }
        var i = 0
        while (i < d) { out(i) /= n; i += 1 }
      }
      var norm = 0.0
      var i = 0
      while (i < d) { norm += out(i) * out(i); i += 1 }
      val inv = if (norm > 0) 1.0 / math.sqrt(norm) else 0.0
      val res = new Array[Float](d)
      i = 0
      while (i < d) { res(i) = (out(i) * inv).toFloat; i += 1 }
      res
    }
  }

  private val loaded = new WeightMemo[Weights]

  /** Load weights: a `.safetensors` resource reads a PRETRAINED
    * checkpoint from the FILESYSTEM through the HF-name mapping
    * ([[loadSafetensors]]); anything else reads the checked-in GTRF
    * binary from the classpath — the fallback that keeps the engine
    * self-contained when no checkpoint is installed. Either way the
    * read happens once per JVM: classpath resources are memoized by
    * name, checkpoints by canonical path, size and mtime of `resource`
    * (the index file, for a sharded one), so a rewritten checkpoint is
    * re-read. */
  def load(resource: String): Weights =
    if (resource.endsWith(".safetensors") || resource.endsWith(".safetensors.index.json")) {
      val f = new java.io.File(resource).getCanonicalFile
      loaded(s"file:${f.getPath}", (f.length, f.lastModified))(loadSafetensors(resource))
    } else loaded(s"classpath:$resource", ())(loadGtrf(resource))

  private[graft] def loadGtrf(resource: String): Weights = {
    val in = Option(getClass.getResourceAsStream(resource))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"transformer weights not on classpath: $resource"))
    val ds = new java.io.DataInputStream(new java.io.BufferedInputStream(in))
    try {
      val magic = new Array[Byte](4)
      ds.readFully(magic)
      require(new String(magic, "US-ASCII") == "GTRF",
        s"bad weight-file magic in $resource")
      val vocab = ds.readInt(); val d = ds.readInt(); val heads = ds.readInt()
      val dff = ds.readInt(); val maxLen = ds.readInt()
      require(d % heads == 0, s"d=$d not divisible by heads=$heads")
      def floats(n: Int): Array[Float] = {
        val a = new Array[Float](n)
        var i = 0
        while (i < n) { a(i) = ds.readFloat(); i += 1 }
        a
      }
      Weights(vocab, d, heads, dff, maxLen,
        floats(vocab * d), floats(maxLen * d),
        floats(d), floats(d),
        Seq(Block(
          floats(d * d), floats(d), floats(d * d), floats(d),
          floats(d * d), floats(d), floats(d * d), floats(d),
          floats(d), floats(d),
          floats(d * dff), floats(dff), floats(dff * d), floats(d),
          floats(d), floats(d))))
    } finally ds.close()
  }

  /** Map a BERT-family safetensors checkpoint (MiniLM, BGE, E5 — the
    * models the reference binds, /root/reference/src/PDFToChromaIngester
    * .py:43-47) onto [[Weights]]:
    *
    *  - HF `Linear` weights are stored [out, in] row-major; the forward
    *    pass here indexes [in, out], so every projection transposes on
    *    load (one pass, load-time only);
    *  - BERT adds token-type (segment) embeddings; single-segment
    *    inference uses type 0 everywhere, so its row folds into the
    *    position embeddings and the forward pass stays type-free;
    *  - head count is not recorded in tensor shapes: read
    *    `__metadata__.num_attention_heads` when present, else 12 (every
    *    BERT-base/-small family member — BGE-small, MiniLM, E5-small —
    *    uses 12; a nonstandard checkpoint must carry the metadata key);
    *  - an optional leading `bert.` on tensor names (full BertModel
    *    exports) is stripped.
    */
  private[embed] def loadSafetensors(path: String): Weights = {
    // sharded checkpoints arrive as their HF-convention index file
    val st =
      if (path.endsWith(".index.json")) Safetensors.readSharded(path)
      else Safetensors.read(path)
    val pfx = if (st.tensors.keys.exists(_.startsWith("bert."))) "bert." else ""
    def t(name: String): Array[Float] = st.floats(pfx + name)
    def shapeOf(name: String): Array[Int] = st.shape(pfx + name)
    def transpose(w: Array[Float], dOut: Int, dIn: Int): Array[Float] = {
      val o = new Array[Float](w.length)
      var r = 0
      while (r < dOut) {
        var c = 0
        while (c < dIn) { o(c * dOut + r) = w(r * dIn + c); c += 1 }
        r += 1
      }
      o
    }
    val Array(vocab, d) = shapeOf("embeddings.word_embeddings.weight")
    val maxLen = shapeOf("embeddings.position_embeddings.weight")(0)
    val heads = st.metadata.get("num_attention_heads").map(_.toInt).getOrElse {
      require(d % 12 == 0,
        s"d=$d not divisible by the default 12 heads — add num_attention_heads to __metadata__")
      12
    }
    require(d % heads == 0, s"d=$d not divisible by heads=$heads")
    val posEmb = t("embeddings.position_embeddings.weight")
    val typeRow = st.tensors.keys.find(_.endsWith("embeddings.token_type_embeddings.weight"))
      .map(_ => t("embeddings.token_type_embeddings.weight").take(d))
    typeRow.foreach { tr =>
      var p = 0
      while (p < maxLen) {
        var i = 0
        while (i < d) { posEmb(p * d + i) += tr(i); i += 1 }
        p += 1
      }
    }
    val nLayers = Iterator.from(0)
      .takeWhile(i => st.tensors.contains(pfx + s"encoder.layer.$i.attention.self.query.weight"))
      .size
    require(nLayers > 0, s"no encoder.layer.* tensors in $path")
    val dff = shapeOf("encoder.layer.0.intermediate.dense.weight")(0)
    val blocks = (0 until nLayers).map { i =>
      val L = s"encoder.layer.$i"
      Block(
        transpose(t(s"$L.attention.self.query.weight"), d, d), t(s"$L.attention.self.query.bias"),
        transpose(t(s"$L.attention.self.key.weight"), d, d), t(s"$L.attention.self.key.bias"),
        transpose(t(s"$L.attention.self.value.weight"), d, d), t(s"$L.attention.self.value.bias"),
        transpose(t(s"$L.attention.output.dense.weight"), d, d), t(s"$L.attention.output.dense.bias"),
        t(s"$L.attention.output.LayerNorm.weight"), t(s"$L.attention.output.LayerNorm.bias"),
        transpose(t(s"$L.intermediate.dense.weight"), dff, d), t(s"$L.intermediate.dense.bias"),
        transpose(t(s"$L.output.dense.weight"), d, dff), t(s"$L.output.dense.bias"),
        t(s"$L.output.LayerNorm.weight"), t(s"$L.output.LayerNorm.bias"))
    }
    val pooling = st.metadata.getOrElse("pooling", "mean")
    require(pooling == "mean" || pooling == "cls",
      s"unsupported pooling '$pooling' in $path (mean|cls)")
    Weights(vocab, d, heads, dff, maxLen,
      t("embeddings.word_embeddings.weight"), posEmb,
      t("embeddings.LayerNorm.weight"), t("embeddings.LayerNorm.bias"),
      blocks, pooling)
  }

  /** Deterministic weight-file writer (the checked-in fixture's recorded
    * provenance): xorshift64* PRNG from a fixed seed; embeddings and
    * projections uniform in +-1/sqrt(fanIn), LayerNorm gains 1 / biases 0. */
  def writeToyWeights(path: java.nio.file.Path, vocab: Int = 512, d: Int = 64,
                      heads: Int = 4, dff: Int = 128, maxLen: Int = 64,
                      seed: Long = 0x7a57e0_5eedL): Unit = {
    var s = seed
    def nextUniform(): Double = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      val u = (s * 0x2545f4914f6cdd1dL >>> 11).toDouble / (1L << 53).toDouble
      u * 2.0 - 1.0
    }
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path)))
    try {
      out.write("GTRF".getBytes("US-ASCII"))
      out.writeInt(vocab); out.writeInt(d); out.writeInt(heads)
      out.writeInt(dff); out.writeInt(maxLen)
      def rand(n: Int, fanIn: Int): Unit = {
        val bound = 1.0 / math.sqrt(fanIn.toDouble)
        var i = 0
        while (i < n) { out.writeFloat((nextUniform() * bound).toFloat); i += 1 }
      }
      def ones(n: Int): Unit = { var i = 0; while (i < n) { out.writeFloat(1f); i += 1 } }
      def zeros(n: Int): Unit = { var i = 0; while (i < n) { out.writeFloat(0f); i += 1 } }
      rand(vocab * d, d); rand(maxLen * d, d)   // tokEmb, posEmb
      ones(d); zeros(d)                          // lnE
      rand(d * d, d); zeros(d)                   // Wq bq
      rand(d * d, d); zeros(d)                   // Wk bk
      rand(d * d, d); zeros(d)                   // Wv bv
      rand(d * d, d); zeros(d)                   // Wo bo
      ones(d); zeros(d)                          // ln1
      rand(d * dff, d); zeros(dff)               // W1 b1
      rand(dff * d, dff); zeros(d)               // W2 b2
      ones(d); zeros(d)                          // ln2
    } finally out.close()
  }
}

object Embedders {
  /** The asymmetric embedder pair — (passages, queries) — sharing one
    * weight set under a [[PrefixConvention]]: build each side from its
    * instruction prefix. */
  def asymmetric(mk: String => Embedder,
                 conv: PrefixConvention = PrefixConvention()): (Embedder, Embedder) =
    (mk(conv.passage), mk(conv.query))

  /** Column-level embed via UDF (per-row; fine for scalar use). */
  def embedUdf(embedder: Embedder): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => embedder.encodeOne(s))

  /** DataFrame-level embed: batches per partition through
    * [[Embedder.encode]] — the shape a model-backed embedder needs (load
    * the session once per partition, infer in batches).
    */
  def embed(df0: DataFrame, textCol: String, outCol: String,
            embedder: Embedder, batchSize: Int = 64): DataFrame = {
    // inference is the heaviest per-row work in the engine — never let a
    // narrow scan run it serially (Tables.spread is a no-op at scale)
    val df = graft.Tables.spread(df0)
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField(outCol,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val vecs = embedder.encode(batch.map(r => r.getString(idx)))
        batch.iterator.zip(vecs.iterator).map { case (r, v) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v.toSeq)
        }
      }
    }(enc)
  }
}
