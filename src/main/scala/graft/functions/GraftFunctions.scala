package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CosineSimilarity, HanCount, HashFamily, Int8Codes, Int8Cosine, MinHashSignature, NfkcNormalize, RepetitionSignals, ShingleHashes, Shingles}

/** The engine's scalar-function surface: every cleansing / normalization
  * expression of the reference system re-expressed as a `Column => Column`
  * combinator over codegen'd Spark built-ins, plus the text-pipeline
  * primitives (shingling, MinHash, SimHash, fingerprints, cosine) the
  * extended engine adds for large-scale corpus work.
  *
  * Function numbering (F1…F13) follows SURVEY.md §2.7, which maps each one
  * to its reference call site. Everything here is a pure expression — no
  * Scala/Python UDFs — so the whole surface stays inside whole-stage
  * codegen and Catalyst can constant-fold / push down through it.
  */
object GraftFunctions {

  // --------------------------------------------------------------------
  // Reference cleansing functions (SURVEY §2.7)
  // --------------------------------------------------------------------

  /** F1 — document-number hygiene: strip spaces, newlines and slashes.
    * (ref `src/import_xml_history.py:26-33`: `BY/  /14/440 /JM0H3` → `BY14440JM0H3`) */
  // translate, not regexp_replace: both functions delete a FIXED char
  // set, and translate is a char-mapped scan (no regex engine) — ~15%
  // off f_clean_keys and every link-key consumer (e3, J-family). Java regex \s (no UNICODE_CHARACTER_CLASS) is
  // exactly [ \t\n\x0B\f\r], so the translate set below is the same
  // deletion and the DuckDB regexp twins keep matching hash-exactly.
  def cleanDocNo(c: Column): Column = translate(c, " \n/", "")

  /** F2 — waybill-key hygiene: remove whitespace/slash/dash, uppercase.
    * (ref `src/batch_train.py:85-86`) */
  def cleanWaybill(c: Column): Column =
    upper(translate(c, " \t\n\u000B\f\r/-", ""))

  /** F3 — bill-of-lading link key: `<mawb>_<hawb>` after F2 hygiene.
    * (ref `src/batch_train.py:87`) */
  def linkKey(mawb: Column, hawb: Column): Column =
    concat_ws("_", cleanWaybill(mawb), cleanWaybill(hawb))

  /** NFKC compatibility normalization (full-width → half-width). Custom
    * Catalyst expression — see [[NfkcNormalize]]. */
  def nfkcNormalize(c: Column): Column =
    GraftBridge.column(NfkcNormalize(GraftBridge.expression(c)))

  /** All four document repetition signals (non-blank/distinct line counts,
    * bigram count, max bigram multiplicity) as ONE codegen-called pass —
    * see [[org.apache.spark.sql.graft.RepetitionSignals]]. */
  def repetitionSignals(c: Column): Column =
    GraftBridge.column(RepetitionSignals(GraftBridge.expression(c)))

  /** Han-script code-point count, the allocation-free twin of
    * `length(regexp_replace(c, "[^\\p{IsHan}]", ""))` — see
    * [[org.apache.spark.sql.graft.HanCount]]. */
  def hanCount(c: Column): Column =
    GraftBridge.column(HanCount(GraftBridge.expression(c)))

  /** Symmetric int8 codes of a float vector as BINARY (1 byte/component)
    * — see [[org.apache.spark.sql.graft.Int8Codes]]. */
  def int8Codes(c: Column): Column =
    GraftBridge.column(Int8Codes(GraftBridge.expression(c)))

  /** Approximate cosine from two int8 code vectors (scales cancel) —
    * see [[org.apache.spark.sql.graft.Int8Cosine]]. */
  def int8Cosine(a: Column, b: Column): Column =
    GraftBridge.column(
      Int8Cosine(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** F4 — the reference's flagship text normalizer
    * (ref `src/batch_train.py:21-52`): NFKC → uppercase → keep only the last
    * `/`-separated segment → non-word punctuation to space (Unicode-aware,
    * CJK letters preserved) → collapse whitespace → trim. */
  def normalizeText(c: Column): Column = {
    val seg = element_at(split(upper(nfkcNormalize(c)), "/"), -1)
    trim(regexp_replace(regexp_replace(seg, "[^\\p{L}\\p{N}_\\s]", " "), "\\s+", " "))
  }

  /** F5 — ISO-8601 date truncation: `2025-03-22T00:00:00+08:00` → date.
    * (ref `src/import_xml_history.py:66-71`) */
  def isoDate(c: Column): Column = to_date(substring_index(c, "T", 1))

  /** F6 — numeric coercion with 0-default, pandas `errors='coerce'` twin.
    * (ref `src/import_xml_history.py:78-82`) ANSI-safe via try_cast. */
  def numOrZero(c: Column): Column =
    coalesce(c.try_cast("double"), lit(0.0))

  /** F7 — guarded derived unit price: `round(total/qty, 4)` iff qty > 0.
    * (ref `src/import_xml_history.py:94-98`) `bround` (HALF_EVEN), because
    * the reference's Python `round` is banker's rounding — `round()`
    * (HALF_UP) would differ on exact .xxxx5 midpoints. */
  def unitPrice(total: Column, qty: Column): Column =
    when(qty > 0, bround(total / qty, 4)).otherwise(lit(0.0))

  /** The engine's money decimal: DECIMAL(18,4) covers every amount in the
    * reference's data (TWD line totals < 1e9) with exact 4-dp arithmetic. */
  val MoneyType = "decimal(18,4)"

  /** F6, decimal money variant: coercion straight from the RAW string to
    * DECIMAL(18,4) — casting the already-parsed double would inherit its
    * binary representation error, so decimal mode re-reads the source text.
    * (SURVEY §1.3 flags the reference's float money as the documented
    * correctness delta; this is the exact-arithmetic upgrade.) */
  def numOrZeroDec(c: Column): Column =
    coalesce(c.try_cast(MoneyType),
      lit(java.math.BigDecimal.ZERO).cast(MoneyType))

  /** F7, decimal money variant: exact decimal division over the RAW
    * strings, banker's-rounded to 4 dp like the double path (Python
    * `round` parity). Operands widen to DECIMAL(28,10) first — rounding
    * them to the 4-dp money scale BEFORE the division would corrupt the
    * quotient's own 4-dp rounding. */
  def unitPriceDec(totalRaw: Column, qtyRaw: Column): Column = {
    val t = coalesce(totalRaw.try_cast("decimal(28,10)"),
      lit(java.math.BigDecimal.ZERO).cast("decimal(28,10)"))
    val q = coalesce(qtyRaw.try_cast("decimal(28,10)"),
      lit(java.math.BigDecimal.ZERO).cast("decimal(28,10)"))
    when(q > 0, bround(t / q, 4).cast(MoneyType))
      .otherwise(lit(java.math.BigDecimal.ZERO).cast(MoneyType))
  }

  /** F9 — stringify + strip (pandas `.astype(str).str.strip()`). */
  def strTrim(c: Column): Column = trim(c.cast("string"))

  /** F10 — alphanumeric gate (MAWB validation, ref `process_excel_order.py:65`). */
  def isAlnum(c: Column): Column = c.rlike("^[A-Za-z0-9]+$")

  /** F13 — null-sentinel rejection: 'nan'/'none'/'' are not values.
    * (ref `process_excel_order.py:45,56`) */
  def isRealValue(c: Column): Column =
    c.isNotNull && !lower(trim(c)).isin("nan", "none", "")

  /** W3 — forward-fill (pandas `ffill`, ref `process_excel_order.py:94,146`):
    * last non-null value of `c` at or before the current row, per partition,
    * in `order` order. The one reference operator needing an explicit window
    * frame. Partitioned — never a single global window — so it scales: the
    * reference's use is per-file (merged header cells), and the partition
    * key is the file/bill, keeping each frame bounded. */
  def ffill(c: Column, partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    last(c, ignoreNulls = true).over(
      Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  // --------------------------------------------------------------------
  // Exact-at-any-scale money arithmetic
  // --------------------------------------------------------------------

  /** Money as integer cents. Summing doubles is order-dependent, and at
    * 1000-executor scale the combine order is nondeterministic — integer
    * cents make every money aggregate bit-exact and reproducible. */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  // --------------------------------------------------------------------
  // Text-corpus primitives (dedup / quality / fingerprinting)
  // --------------------------------------------------------------------

  /** Whitespace tokens of lowercased text. */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** UTF-8 bytes of `s` decoded as Windows-1252 — the exact mojibake
    * damage model; single source of truth lives in the kernel object
    * ([[org.apache.spark.sql.graft.MojibakeRepair.mojibake]]). */
  private[graft] def mojibake(s: String): String =
    org.apache.spark.sql.graft.MojibakeRepair.mojibake(s)

  /** The repair dictionary (computed damage form -> intended character,
    * longest keys first) — [[org.apache.spark.sql.graft.MojibakeRepair
    * .Pairs]], re-exported for the oracle generator and specs. */
  private[graft] val MojibakePairs: Seq[(String, String)] =
    org.apache.spark.sql.graft.MojibakeRepair.Pairs

  /** Mojibake detection + repair in ONE compiled pass —
    * struct<fixed: string, n_bad: bigint> (see
    * [[org.apache.spark.sql.graft.MojibakeRepair]]; equivalence with
    * the declarative cascade is spec-pinned). */
  def mojibakeRepair(c: Column): Column =
    GraftBridge.column(org.apache.spark.sql.graft.MojibakeRepair(
      GraftBridge.expression(c)))

  /** Count of mojibake-dictionary hits in `c` — the detection signal
    * (per-document evidence for an encoding-damage gate). Kernel-backed;
    * [[mojibakeCountCascade]] is the declarative spec twin. */
  def mojibakeCount(c: Column): Column =
    mojibakeRepair(c).getField("n_bad")

  /** Repair the dictionary's mojibake sequences in `c`. Kernel-backed
    * single pass; NOT a general transcoder: sequences outside the
    * dictionary pass through untouched (repair what is certain, count
    * the evidence via [[mojibakeCount]]); on once-damaged text
    * `fixMojibake(mojibake(clean)) == clean` and the result is a fixed
    * point — both spec-pinned laws. [[fixMojibakeCascade]] is the
    * declarative spec twin. */
  def fixMojibake(c: Column): Column =
    mojibakeRepair(c).getField("fixed")

  /** The readable declarative form of [[mojibakeCount]] — one
    * replace-length delta per key, summed; kept as the reference the
    * kernel is property-pinned against. */
  private[graft] def mojibakeCountCascade(c: Column): Column =
    MojibakePairs.map { case (bad, _) =>
      ((length(c) - length(replace(c, lit(bad), lit(""))))
        / bad.length).cast("long")
    }.reduce(_ + _)

  /** The readable declarative form of [[fixMojibake]] — the
    * longest-first replace cascade (also what the DuckDB oracle
    * generates); kept as the reference the kernel is property-pinned
    * against. */
  private[graft] def fixMojibakeCascade(c: Column): Column =
    MojibakePairs.foldLeft(c) { case (acc, (bad, good)) =>
      replace(acc, lit(bad), lit(good))
    }

  /** Canonical form of an absolute http(s) URL — the crawl-pipeline
    * dedup key (two fetches of the same resource must collide BEFORE
    * content dedup ever runs): lowercase scheme and host, drop the
    * scheme's default port (`:80` http / `:443` https; explicit
    * non-default ports survive), drop the fragment, strip trailing
    * slashes from the path (empty path normalizes to `/`), drop
    * tracking parameters (`utm_*`, `fbclid`, `gclid`) and SORT the
    * survivors so parameter order can't split a key. Pure declarative
    * string/array expressions (regex + split/filter/sort/join), so the
    * canonicalization replays hash-exactly in ANSI SQL — and it is
    * idempotent (spec-pinned law). Contract: input is a well-formed
    * absolute URL with a scheme; percent-encoding is preserved as-is
    * (unescaping is a VALIDATION concern, not a key concern). */
  def urlCanonicalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = regexp_extract(rest, "^([^/?]*)", 1)
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val host = lower(regexp_extract(hostport, "^([^:]*)", 1))
    val port = regexp_extract(hostport, ":(\\d+)$", 1)
    val normPort = when(port === "", lit(""))
      .when(scheme === "http" && port === "80", lit(""))
      .when(scheme === "https" && port === "443", lit(""))
      .otherwise(concat(lit(":"), port))
    val path = regexp_extract(pathq, "^([^?]*)", 1)
    val stripped = regexp_replace(path, "/+$", "")
    val normPath = when(stripped === "", lit("/")).otherwise(stripped)
    val query = regexp_extract(pathq, "\\?(.*)$", 1)
    val kept = filter(split(query, "&"), p =>
      p =!= "" && !p.startsWith("utm_") &&
        !p.startsWith("fbclid=") && !p.startsWith("gclid="))
    val sortedQ = array_join(array_sort(kept), "&")
    concat(scheme, lit("://"), host, normPort, normPath,
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** Word k-shingles: overlapping k-grams of the token stream, the unit of
    * MinHash / Jaccard document similarity. Empty array when < k tokens.
    * Codegen-called primitive loop ([[org.apache.spark.sql.graft.Shingles]]);
    * equivalence with the declarative HOF form is property-pinned in
    * `GraftFunctionsSpec`. */
  def shingles(c: Column, k: Int): Column =
    GraftBridge.column(Shingles(GraftBridge.expression(tokens(c)), k))

  /** Distinct word-k-shingle HASHES: like [[shingles]] but each k-gram is
    * a 64-bit hash instead of a joined string — no per-shingle string
    * building, long join keys instead of text. Custom codegen-called
    * expression ([[org.apache.spark.sql.graft.ShingleHashes]]); this stage
    * fronts every dedup operator. Use when shingle identity (not content)
    * is all that matters; `family` picks the hash ([[HashFamily]]). */
  def shingleHashes(c: Column, k: Int,
                    family: HashFamily = HashFamily.Xxh64): Column =
    GraftBridge.column(
      ShingleHashes(GraftBridge.expression(tokens(c)), k, family))

  /** |A ∩ B| of two SORTED long arrays by a codegen'd merge walk — the
    * dedup confirm-join inner loop; replaces `size(array_intersect)`
    * (hash-set build + materialized intersection per pair) with zero
    * allocation. Arrays MUST be sorted ascending. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(org.apache.spark.sql.graft.SortedIntersectCount(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** `|A ∩ B| >= need` with two-sided early exit (success the moment the
    * count reaches `need`; abandonment the moment the best case cannot)
    * — the threshold pre-filter of the dedup verify joins, equivalent to
    * `sortedIntersectCount(a, b) >= need` but it stops walking once the
    * verdict is decided, so the ~99.99% non-matching candidate pairs pay
    * a handful of comparisons instead of a full merge walk. Arrays MUST
    * be sorted ascending. */
  def sortedIntersectAtLeast(a: Column, b: Column, need: Column): Column =
    GraftBridge.column(org.apache.spark.sql.graft.SortedIntersectAtLeast(
      GraftBridge.expression(a), GraftBridge.expression(b),
      GraftBridge.expression(need)))

  /** Σ aᵢ·bᵢ of two `array<long>` columns as one fused codegen'd loop —
    * the quantized-vector scoring inner loop (semantic dedup, fixed-
    * codebook IVF); replaces `aggregate(zip_with(a, b, _*_), 0, _+_)`
    * (a materialized product array per pair) with zero allocation.
    * Integer math → combine-order-free → hash-oracle-exact. */
  def dotLong(a: Column, b: Column): Column =
    GraftBridge.column(org.apache.spark.sql.graft.DotProductLong(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Full n-position MinHash signature of HASHED shingles (see
    * [[shingleHashes]]) as array<long> — a custom codegen'd Catalyst
    * expression ([[org.apache.spark.sql.graft.MinHashSignature]]): one
    * primitive long loop per row. The signature pass is numHashes×|set|
    * hash evals per document and dominates LSH dedup at corpus scale, so it
    * must not run as interpreted higher-order functions (those cost ~10x
    * here and allocate per shingle). `family` must match the one that
    * hashed the shingles. */
  def minhashSignature(shingleCol: Column, n: Int,
                       family: HashFamily = HashFamily.Xxh64): Column =
    GraftBridge.column(
      MinHashSignature(GraftBridge.expression(shingleCol), n, family))

  /** Deterministic document fingerprint (content hash of normalized text). */
  def fingerprint(c: Column): Column = md5(normalizeText(c).cast("binary"))

  /** Cosine similarity of two float-vector columns, double-precision,
    * sequential accumulation. Custom codegen'd expression — see
    * [[CosineSimilarity]]. */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))
}
