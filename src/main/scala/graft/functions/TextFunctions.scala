package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for dedup / analysis pipelines, as pure Column
  * expressions (codegen'd, per-row, no shuffle).
  *
  * Hashing is md5-hex over seeded strings — deliberately engine-portable
  * (identical in DuckDB/Trino/Spark) so MinHash signatures and fingerprints
  * can be oracle-checked bit-for-bit. md5 hex is ASCII, so lexicographic
  * `array_min` ordering agrees across engines too.
  */
object TextFunctions {

  /** Whitespace tokens of the lowercased text. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Word k-shingles as space-joined strings; empty array when fewer than k
    * tokens. k=1 gives the token set itself (order-insensitive dedup).
    *
    * Built as a k-way `zip_with` fold of shifted token slices rather than
    * `transform(sequence(...), i => slice(toks, i, k))`: a lambda BODY
    * re-evaluates every outer expression it references per element, so
    * the transform form recomputes the full tokenization once per shingle
    * position — O(len^2) per document, measured 7x slower at sf0.1 on the
    * fingerprint path alone. `zip_with`'s array arguments are plain
    * expression arguments, evaluated once per row. */
  def shingles(text: Column, k: Int): Column = {
    require(k >= 1, "shingle size must be >= 1")
    if (k == 1) tokens(text)
    else {
      val toks = tokens(text)
      val m = size(toks) - k + 1
      val folded = (1 until k).foldLeft(slice(toks, lit(1), m)) { (acc, j) =>
        zip_with(acc, slice(toks, lit(j + 1), m), (a, b) =>
          concat(a, lit(" "), b))
      }
      when(size(toks) >= k, folded)
        .otherwise(array().cast("array<string>"))
    }
  }

  /** Modulus for the universal-hash family deriving MinHash components. */
  val MinHashMod: Long = 1000000007L

  /** 60-bit md5 digest prefix as a long — the native form of
    * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")` (bit-identical;
    * asserted in ScaleSpec). Use for every portable hash-bucket/digest hot
    * path; the DuckDB oracle side is unchanged. */
  def md5Prefix60(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.Md5Prefix60Expr(
        org.apache.spark.sql.GraftSqlBridge.expression(c)
      )
    )

  /** Per-shingle hash seeds for MinHash: ONE md5 digest per shingle, split
    * into two 60-bit integers (a, b mod p). All signature components derive
    * from (a, b) arithmetically — 16x fewer digests than hashing per
    * component, and still engine-portable (DuckDB: CAST('0x'||substr AS
    * BIGINT)). Keep this in its own projection: the expression is
    * non-cheap, so Catalyst will NOT inline it into each downstream
    * reference (CollapseProject skips duplicating expensive exprs). */
  def minHashPre(shinglesCol: Column): Column =
    transform(
      shinglesCol,
      s =>
        // ONE digest per shingle via the native expression; the composed
        // two-conv spec form below is asserted bit-identical in ScaleSpec
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.plans.MinHashSeedsExpr(
            org.apache.spark.sql.GraftSqlBridge.expression(s),
            MinHashMod
          )
        )
    )

  /** Executable spec for [[minHashPre]]: the composed conv(substring(md5))
    * form the native expression must match bit-for-bit (and the form the
    * DuckDB oracles replicate). Kept for the identity test only. */
  private[graft] def minHashPreSpec(shinglesCol: Column): Column =
    transform(
      shinglesCol,
      s => {
        val h = md5(s)
        struct(
          conv(substring(h, 1, 15), 16, 10).cast("long").as("a"),
          (conv(substring(h, 16, 15), 16, 10).cast("long") % MinHashMod).as("b")
        )
      }
    )

  /** LSH band keys: band b = 60-bit md5 digest prefix of the b-th r-sized
    * slice of the signature (any element-type signature; elements joined
    * with '|'). Two documents share a band key iff that signature slice is
    * identical (up to a ~n²/2⁶¹ digest-collision term — and a colliding
    * candidate pair still faces the full-signature similarity verification
    * every consumer applies, so results are unchanged). A LONG key instead
    * of the md5 hex string shrinks every band-join shuffle row from ~40 to
    * 8 bytes — at 100 TB the band join IS the shuffle, so this is a 4-5x
    * cut to the dominant dedup shuffle volume. */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b =>
        md5Prefix60(
          concat_ws(
            "|",
            transform(
              slice(signature, b * rowsPerBand + lit(1), lit(rowsPerBand)),
              _.cast("string")
            )
          )
        )
    )

  /** Estimated Jaccard similarity between two equal-length MinHash
    * signatures: fraction of matching components. */
  def minHashSimilarity(sigA: Column, sigB: Column): Column =
    aggregate(
      zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0),
      (acc, x) => acc + x
    ).cast("double") / size(sigA)

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Canonical form for fingerprinting: lowercase, strip non-[a-z0-9 ],
    * collapse whitespace, trim. */
  def canonicalText(text: Column): Column =
    trim(
      regexp_replace(
        regexp_replace(lower(text), "[^a-z0-9 ]", ""),
        " +",
        " "
      )
    )

  /** Whole-document fingerprint: md5 of the canonical text. */
  def fingerprint(text: Column): Column = md5(canonicalText(text))

  /** Winnowing-style fingerprint: minimum shingle hash of the canonical
    * text's k-shingles (stable under small edits away from the minimum). */
  def minShingleFingerprint(text: Column, k: Int): Column = {
    // native single-loop digest-min (graft.plans.MinShingleMd5Expr) —
    // bit-identical to the composed
    // array_min(transform(shingles(canonicalText, k), md5)) (asserted in
    // ScaleSpec), which evaluated every md5 inside an interpreted
    // transform lambda over a zip_with-built shingle array
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.plans.MinShingleMd5Expr(
        GraftSqlBridge.expression(canonicalText(text)),
        k
      )
    )
  }

  /** Unicode canonical normalization (default NFC) via the codegen'd
    * [[graft.plans.UnicodeNormalizeExpr]]: composed and decomposed accent
    * forms (and, with NFKC/NFKD, compatibility ligatures) map to one
    * canonical spelling — run BEFORE hashing/fingerprinting multilingual
    * text so visually identical documents dedup together. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.plans.UnicodeNormalizeExpr(GraftSqlBridge.expression(text), form)
    )
  }
}
