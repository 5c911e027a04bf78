package graft

import graft.operators.TextAnalysis

/** DuckDB-oracle ANSI-SQL twins of [[SparkEntry.queries]], split into
  * their own file so registry diffs stay reviewable (the combined file
  * had crossed 1,800 lines). Keys must stay a subset of
  * `SparkEntry.queries` — pinned by `RegistrySpec`. Keys absent here
  * (minhash/simhash/fingerprints/multimodal decode, learned-codebook
  * ANN) use hash functions or stub codecs with no DuckDB equivalent —
  * they get the driver's rows-only check plus ScalaTest pinning. */
private[graft] object SparkEntryOracles {
  /** DuckDB twin of [[graft.functions.GraftFunctions.normalizeText]] for
    * ASCII inputs (NFKC is the identity on ASCII; the non-ASCII path is
    * pinned by ScalaTest instead). */
  private def normSql(expr: String): String =
    s"trim(regexp_replace(regexp_replace(" +
      s"list_extract(string_split(upper($expr), '/'), -1), " +
      s"'[^\\p{L}\\p{N}_\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"

  private def linkKeySql(mawb: String, hawb: String): String =
    s"upper(regexp_replace($mawb, '[\\s/-]', '', 'g')) || '_' || " +
      s"upper(regexp_replace($hawb, '[\\s/-]', '', 'g'))"

  private val e3KeySql =
    linkKeySql("'m-' || CAST(l_orderkey AS VARCHAR)",
      "'h/' || CAST(l_orderkey AS VARCHAR)")

  /** Milli-quantized sine tables as SQL constant-list literals —
    * generated from the very `Multimodal.sinMilliTable` the Spark side
    * reads, so the oracle and the engine can never drift. They are
    * consumed via `list_extract(tab, idx + 1)` (pure scalar compute):
    * round 11 shipped them as VALUES CTEs joined on computed keys, and
    * DuckDB nested-looped those joins — mm_audio_fingerprint alone ran
    * >15 min and emptied the driver's correctness artifact. As constant
    * lists the same replay is ~0.3 s. */
  private def sinListSql(m: Int): String =
    graft.operators.Multimodal.sinMilliTable(m).mkString("[", ",", "]")

  /** The pHash kernel's 8×32 micro-cosine table flattened k·32+n — the
    * image siblings of [[sinListSql]] (same constant-list trick). */
  private def dctCosListSql: String =
    graft.operators.Multimodal.dctCosMicro.flatten.mkString("[", ",", "]")

  /** `[2^0 … 2^63]` as HUGEINT literals — the pHash bit packer. */
  private def pow2ListSql: String =
    (0 until 64).map(i => (BigInt(1) << i).toString + "::HUGEINT")
      .mkString("[", ",", "]")

  private val K64 = "18446744073709551616::HUGEINT" // 2^64

  /** The CMS multiply-shift (a, b) constants CTE — generated from the
    * very `CmsState.hashConstants` the engine's bucket math reads, so
    * the oracle literals can never drift (the XxhSql.hashInt rule);
    * shared by the inner-product and probe-rollup replays. */
  private def cmsAbCte(rows: Int): String =
    org.apache.spark.sql.graft.CmsState.hashConstants(rows).zipWithIndex
      .map { case ((a, b), r) =>
        s"SELECT $r AS r, $a::HUGEINT AS a, $b::HUGEINT AS b"
      }
      .mkString(" UNION ALL ")
  private val S63 = "9223372036854775808::HUGEINT" // 2^63

  /** CTE chain replaying the IMAGE pHash table end to end in SQL: the
    * texture fixtures regenerate from doc_id (two xorshift64 streams per
    * asset, iterated 4096 steps in a recursive CTE over mod-2^64 HUGEINT
    * arithmetic; PNG encode/decode is lossless so decoded pixels ARE the
    * formula values), grayscale luma is the pixel value exactly
    * ((299+587+114)v/1000 = v), 2×2 box floor-average to 32×32, the
    * 8×32-table integer DCT twice, lower-median threshold, and the 64
    * bits packed with 2^63 wraparound back to a signed BIGINT — the
    * complete [[graft.operators.Multimodal.perceptualHashOne]] chain.
    * Assumes the registry/oracle shape (SPARK_GRAFT_PHASH_SCALE=1),
    * like the audio family. */
  private def phashCtes: String =
    s"""WITH RECURSIVE assets AS (
       |  SELECT doc_id AS id, CAST(doc_id % 12 AS BIGINT) AS pat,
       |    CASE WHEN doc_id // 12 = 0 THEN 0
       |         WHEN doc_id // 12 = 3 THEN 8 ELSE 4 END AS amp
       |  FROM documents WHERE doc_id < 48),
       |streams AS (
       |  SELECT DISTINCT 't' || pat AS sid,
       |    ((pat + 7919)::HUGEINT * 6364136223846793005
       |      + 1442695040888963407) % $K64 AS s0
       |  FROM assets
       |  UNION ALL
       |  SELECT DISTINCT 'n' || id,
       |    (id::HUGEINT * 6364136223846793005 + 1442695040888963407)
       |      % $K64
       |  FROM assets WHERE amp > 0),
       |rng AS (
       |  SELECT sid, 0 AS i, s0 AS s FROM streams
       |  UNION ALL
       |  SELECT sid, i + 1, xor(s2, (s2 * 131072) % $K64) AS s
       |  FROM (SELECT sid, i, xor(s1, s1 // 128) AS s2
       |        FROM (SELECT sid, i, xor(s, (s * 8192) % $K64) AS s1
       |              FROM rng WHERE i < 4096))),
       |px AS (
       |  SELECT a.id, t.i - 1 AS pix,
       |    greatest(0, least(255,
       |      128 + (CASE WHEN t.s >= $S63 THEN t.s - $K64 ELSE t.s END
       |               % 181 + 181) % 181 - 90
       |          + CASE WHEN a.amp > 0 THEN
       |              CAST((CASE WHEN n.s >= $S63 THEN n.s - $K64
       |                    ELSE n.s END % (2*a.amp+1) + (2*a.amp+1))
       |                   % (2*a.amp+1) AS BIGINT) - a.amp
       |            ELSE 0 END)) AS v
       |  FROM assets a
       |  JOIN rng t ON t.sid = 't' || a.pat AND t.i >= 1
       |  LEFT JOIN rng n ON n.sid = 'n' || a.id AND n.i = t.i),
       |l32 AS (
       |  SELECT id, (pix // 64) // 2 AS y, (pix % 64) // 2 AS x,
       |    CAST(SUM(v) // 4 AS BIGINT) AS lum
       |  FROM px GROUP BY 1, 2, 3),
       |rdct AS (
       |  SELECT id, y, k.k AS k,
       |    SUM(lum * list_extract($dctCosListSql, k.k * 32 + x + 1)) AS rv
       |  FROM l32 CROSS JOIN range(0, 8) k(k)
       |  GROUP BY 1, 2, 3),
       |cdct AS (
       |  SELECT id, l.l AS l, k,
       |    SUM(rv * list_extract($dctCosListSql, l.l * 32 + y + 1)) AS cv
       |  FROM rdct CROSS JOIN range(0, 8) l(l)
       |  GROUP BY 1, 2, 3),
       |med AS (
       |  SELECT id, cv AS m FROM (
       |    SELECT id, cv,
       |      row_number() OVER (PARTITION BY id ORDER BY cv) AS rk
       |    FROM cdct) WHERE rk = 32),
       |ph AS (
       |  SELECT c.id,
       |    CAST(CASE WHEN h >= $S63 THEN h - $K64 ELSE h END AS BIGINT)
       |      AS phash
       |  FROM (
       |    SELECT c.id, SUM(CASE WHEN c.cv > med.m
       |      THEN list_extract($pow2ListSql, c.l * 8 + c.k + 1)
       |      ELSE 0::HUGEINT END) AS h
       |    FROM cdct c JOIN med ON c.id = med.id
       |    GROUP BY 1) c(id, h))""".stripMargin

  /** Shared CTE prefix of the audio-fingerprint oracles: regenerates the
    * tone-sequence fixtures from doc_id (160-entry milli-sine list,
    * segment steps k = f/50 on the 50 Hz grid), assigns each sample to
    * its ≤2 covering 256-sample frames at hop 128 (f = a//128 - d for
    * d ∈ {0,1} — NOT a frame×sample cross join; see sinListSql note),
    * runs the 16-band integer DFT per frame (64-entry list), takes
    * per-frame peak bands (ties → lowest) and emits the landmark table
    * (hash, t) with fanout 4 — the complete Spark chain in SQL.
    * `withProbes` adds the 4 probe clips (segments 2..5 of their
    * source, asset_id = id+100). Frames run 0..nseg·8-2: the final hop
    * would start a partial window, exactly `audioFingerprintOne`'s
    * (len-frameLen)/hop+1 bound. */
  private def audioLandmarkCtes(withProbes: Boolean): String = {
    val l64 = sinListSql(64)
    val l160 = sinListSql(160)
    val probeAssets =
      if (withProbes)
        """
          |  UNION ALL SELECT doc_id + 100, TRUE, 4 FROM documents
          |  WHERE doc_id < 4""".stripMargin
      else ""
    s"""WITH assets AS (
       |  SELECT doc_id AS aid, FALSE AS pr, 8 AS nseg FROM documents
       |  WHERE doc_id < 8$probeAssets),
       |segs AS (
       |  SELECT aid, nseg, g.s AS seg,
       |    6 + (((CASE WHEN pr THEN aid - 100 ELSE aid END) * 7
       |      + (g.s + CASE WHEN pr THEN 2 ELSE 0 END) * 3) % 12) * 5 AS k
       |  FROM assets CROSS JOIN range(0, 8) g(s) WHERE g.s < nseg),
       |samp AS (
       |  SELECT segs.aid, segs.nseg * 8 - 2 AS fmax,
       |    segs.seg * 1024 + r.i AS a,
       |    CAST(floor((2*12000*list_extract($l160,
       |      CAST((segs.k * r.i) % 160 AS INT) + 1) + 1000) / 2000.0)
       |      AS BIGINT) AS v
       |  FROM segs CROSS JOIN range(0, 1024) r(i)),
       |sf AS (
       |  SELECT s.aid, s.a // 128 - d.d AS f,
       |    s.a - (s.a // 128 - d.d) * 128 AS r, s.v
       |  FROM samp s CROSS JOIN (VALUES (0),(1)) d(d)
       |  WHERE s.a // 128 - d.d >= 0 AND s.a // 128 - d.d <= s.fmax),
       |terms AS (
       |  SELECT sf.aid, sf.f, b.b, sf.v,
       |    list_extract($l64,
       |      CAST((sf.r * (2*b.b + 1)) % 64 AS INT) + 1) AS sv,
       |    list_extract($l64,
       |      CAST((sf.r * (2*b.b + 1) + 16) % 64 AS INT) + 1) AS cv
       |  FROM sf CROSS JOIN range(0, 16) b(b)),
       |pw AS (
       |  SELECT aid, f, b,
       |    CAST(SUM(v*cv) AS HUGEINT)*CAST(SUM(v*cv) AS HUGEINT)
       |    + CAST(SUM(v*sv) AS HUGEINT)*CAST(SUM(v*sv) AS HUGEINT) AS p
       |  FROM terms GROUP BY aid, f, b),
       |pk AS (
       |  SELECT aid, f, b AS peak FROM (
       |    SELECT aid, f, b, row_number() OVER (PARTITION BY aid, f
       |      ORDER BY p DESC, b ASC) AS rk FROM pw) WHERE rk = 1),
       |lm AS (
       |  SELECT pa.aid,
       |    pa.peak*65536 + pb.peak*256 + (pb.f - pa.f) AS hash, pa.f AS t
       |  FROM pk pa JOIN pk pb ON pa.aid = pb.aid
       |    AND pb.f BETWEEN pa.f + 1 AND pa.f + 4)""".stripMargin
  }


  private val e3Sql: String =
    s"""WITH a AS (
       |  SELECT $e3KeySql AS link_key, p_name AS desc_raw,
       |         row_number() OVER (PARTITION BY l_orderkey
       |           ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_linestatus = 'F'
       |), b AS (
       |  SELECT $e3KeySql AS link_key, p_brand AS official_description,
       |         p_type AS ccc_code,
       |         row_number() OVER (PARTITION BY l_orderkey
       |           ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'A'
       |), ca AS (SELECT link_key, count(*) AS c FROM a GROUP BY 1),
       |cb AS (SELECT link_key, count(*) AS c FROM b GROUP BY 1),
       |valid AS (SELECT ca.link_key FROM ca JOIN cb USING (link_key)
       |          WHERE ca.c = cb.c),
       |pairs AS (
       |  SELECT ${normSql("a.desc_raw")} AS original_description,
       |         b.official_description, b.ccc_code
       |  FROM a JOIN valid USING (link_key)
       |         JOIN b ON a.link_key = b.link_key AND a.rn = b.rn
       |), votes AS (
       |  SELECT original_description, official_description, ccc_code,
       |         count(*) AS frequency
       |  FROM pairs GROUP BY 1, 2, 3
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY original_description
       |    ORDER BY frequency DESC, official_description, ccc_code) AS rn
       |  FROM votes)
       |SELECT original_description, official_description, ccc_code, frequency
       |FROM ranked WHERE rn = 1""".stripMargin

  /** Word-2-gram Jaccard ≥ 0.8 near-dup pair list as reusable CTEs —
    * shared by `dedup_ngram_jaccard` (the pairs themselves) and
    * `dedup_clusters` (their transitive closure). */
  /** The shingle-set prefix of [[jaccardCtesFrom]] (toks → distinct
    * bigram shingles → exploded rows → set sizes), shared with oracles
    * that pick a DIFFERENT candidate-pair set over the same shingle
    * algebra (`dedup_sorted_neighborhood`). */
  private def shingleCtesFrom(source: String) =
    s"""toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      |  FROM $source
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(t) - 1),
      |    i -> t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 2
      |), ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1)""".stripMargin

  /** The BM25 ranking chain up to its top-`k` cut (relation `bm_top`:
    * (id, score_e6)) — shared by the standalone BM25 query and the RRF
    * fusion oracle, parameterized only by the cut depth. */
  private def bm25Ctes(k: Int) =
    s"""toks AS (
      |  SELECT doc_id AS id,
      |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
      |  WHERE length(term) > 0 GROUP BY 1, 2
      |), dl AS (
      |  SELECT id, CAST(count(*) AS BIGINT) AS dl FROM toks
      |  WHERE length(term) > 0 GROUP BY 1
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
      |), qtf AS (
      |  SELECT * FROM tf WHERE term IN ('spark', 'vector', 'stream')
      |), dftab AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY 1
      |), scored AS (
      |  SELECT q.id,
      |    CAST(round(
      |      ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
      |      * (CAST(q.tf AS DOUBLE) * 2.2 /
      |         (q.tf + 1.2 * (0.25 + 0.75 * l.dl /
      |            (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))
      |      * 1000000) AS BIGINT) AS s_e6
      |  FROM qtf q JOIN dftab d USING (term) JOIN dl l ON q.id = l.id
      |  CROSS JOIN stats s
      |), agg AS (
      |  SELECT id, CAST(sum(s_e6) AS BIGINT) AS score_e6
      |  FROM scored GROUP BY 1
      |), bm_top AS (
      |  SELECT id, score_e6 FROM agg
      |  ORDER BY score_e6 DESC, id LIMIT $k)""".stripMargin

  private def jaccardCtesFrom(source: String) =
    s"""${shingleCtesFrom(source)},
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS intersection
      |  FROM ex a JOIN ex b USING (shingle)
      |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b, intersection, sa.n AS size_a, sb.n AS size_b
      |  FROM inter JOIN sizes sa ON id_a = sa.doc_id
      |             JOIN sizes sb ON id_b = sb.doc_id
      |  WHERE CAST(intersection AS DOUBLE)
      |        / (sa.n + sb.n - intersection) >= 0.8)""".stripMargin

  private val jaccardCtes = jaccardCtesFrom("documents")

  /** md5-MinHash signature + banded-candidate CTEs shared by the LSH
    * oracles: `sigs(doc_id, m0..m31)` from the SAME consts generator the
    * kernel uses, `cand(id_a, id_b)` = pairs agreeing on some band's raw
    * 4-min tuple (no bucket hashing — exact equality, like the engine).
    * Composes with [[shingleCtesFrom]]'s `ex`/`sizes` for the verify. */
  private lazy val lshCandCtes: String = {
    val mins = org.apache.spark.sql.graft.MinHashSignature.md5Consts(32).zipWithIndex
      .map { case ((a, b), i) =>
        s"CAST(min((h * $a + $b) % 2147483647) AS BIGINT) AS m$i" }
      .mkString(",\n    ")
    val bandSelects = (0 until 8).map { b =>
      s"SELECT doc_id, $b AS band, m${4 * b} AS k1, m${4 * b + 1} AS k2," +
        s" m${4 * b + 2} AS k3, m${4 * b + 3} AS k4 FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""hm AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(shingle), 1, 7)) AS BIGINT) AS h
       |  FROM ex
       |), sigs AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM hm GROUP BY 1
       |), bnd AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bnd a JOIN bnd b
       |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |      AND a.k3 = b.k3 AND a.k4 = b.k4
       |  WHERE a.doc_id < b.doc_id)""".stripMargin
  }

  /** Twin of [[TextAnalysis.bpeEncode]]: the replace chain is GENERATED
    * from the same [[TextAnalysis.frozenMerges]] constant the engine
    * folds over, so the two sides cannot drift — same boundary-wrapped
    * symbol string, same rank order, same left-to-right non-overlapping
    * `replace` semantics (Java `UTF8String.replace` == DuckDB `replace`). */
  /** The boundary-wrapped symbol string + applied-merge-chain CTE shared
    * by the BPE oracles: `bpe(doc_id, n_symbols, n_bpe_tokens)`. */
  private lazy val bpeCtes: String = {
    val chain = TextAnalysis.frozenMerges.foldLeft("s0") {
      case (s, (a, b)) => s"replace($s, '>$a<>$b<', '>$a$b<')"
    }
    s"""WITH enc AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(
       |      regexp_extract_all(translate(lower(coalesce(text, '')),
       |        '<>|', ''), '[a-z]+|[0-9]+|[^a-z0-9\\s]'),
       |      w -> regexp_replace(w, '(.)', '>\\1<', 'g')), '|') AS s0
       |  FROM documents
       |), bpe AS (
       |  SELECT doc_id,
       |    CAST(length(s0) - length(replace(s0, '<', '')) AS BIGINT)
       |      AS n_symbols,
       |    CAST(length($chain) - length(replace($chain, '<', '')) AS BIGINT)
       |      AS n_bpe_tokens
       |  FROM enc)""".stripMargin
  }

  private lazy val bpeEncodeSql: String =
    s"""$bpeCtes
       |SELECT doc_id, n_symbols, n_bpe_tokens FROM bpe""".stripMargin

  /** Twin of [[TextAnalysis.bpeFertility]]: same frozen-merge chain via
    * [[bpeCtes]], whitespace word counts, exact integer `//` ppm. */
  private lazy val bpeFertilitySql: String =
    s"""$bpeCtes,
       |ws AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN text IS NULL THEN 0 ELSE
       |      len(list_filter(string_split(text, ' '), x -> x <> ''))
       |    END AS ws
       |  FROM documents)
       |SELECT lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws.ws) AS BIGINT) AS sum_ws_tokens,
       |  CAST(sum(b.n_bpe_tokens) AS BIGINT) AS sum_bpe_tokens,
       |  CAST(sum(b.n_bpe_tokens) * 1000000
       |    // greatest(sum(ws.ws), 1) AS BIGINT) AS fertility_ppm
       |FROM ws JOIN bpe b USING (doc_id)
       |GROUP BY lang""".stripMargin

  /** Twin of [[TextAnalysis.substringCut]]: the [[SparkEntryOracles]]
    * repeated-spans chain (same k=8 / minSpan=16 / maxDf=20 constants as
    * `text_repeated_spans`) extended with the doc_b-side interval union
    * (sorted running-max gaps-and-islands) and the per-doc accounting. */
  private lazy val substringCutSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL
      |), sized AS (
      |  SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) >= 8
      |), pos AS (
      |  SELECT doc_id AS doc, u.pos AS pos, u.sh AS sh
      |  FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(generate_series(1, n - 7),
      |        i -> {'pos': i,
      |              'sh': substr(md5(array_to_string(toks[i:i+7], ' ')),
      |                           1, 16)})) AS u
      |    FROM sized)
      |), cold AS (
      |  SELECT * FROM pos WHERE sh NOT IN (
      |    SELECT sh FROM pos GROUP BY 1 HAVING count(*) > 20)
      |), pr AS (
      |  SELECT a.doc AS doc_a, b.doc AS doc_b, a.pos AS pos_a,
      |    b.pos AS pos_b, a.pos - b.pos AS diag
      |  FROM cold a JOIN cold b USING (sh) WHERE a.doc < b.doc
      |), isl AS (
      |  SELECT doc_a, doc_b, diag, pos_a, pos_b,
      |    pos_a - row_number() OVER (
      |      PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
      |  FROM pr
      |), spans AS (
      |  SELECT doc_b AS doc, min(pos_b) AS s,
      |    min(pos_b) + count(*) + 7 - 1 AS e
      |  FROM isl GROUP BY doc_a, doc_b, diag, island
      |  HAVING count(*) + 7 >= 16
      |), iv AS (
      |  SELECT DISTINCT doc, s, e FROM spans
      |), marked AS (
      |  SELECT doc, s, e,
      |    CASE WHEN s > coalesce(max(e) OVER (
      |        PARTITION BY doc ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      THEN 1 ELSE 0 END AS ni
      |  FROM iv
      |), unioned AS (
      |  SELECT doc, s, e, sum(ni) OVER (
      |      PARTITION BY doc ORDER BY s, e
      |      ROWS UNBOUNDED PRECEDING) AS island
      |  FROM marked
      |), removed AS (
      |  SELECT doc, CAST(sum(len) AS BIGINT) AS dup_tokens FROM (
      |    SELECT doc, island, max(e) - min(s) + 1 AS len
      |    FROM unioned GROUP BY 1, 2)
      |  GROUP BY 1
      |), nt AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL THEN 0 ELSE
      |      len(list_filter(string_split(text, ' '), x -> x <> ''))
      |    END AS n_tokens
      |  FROM documents)
      |SELECT nt.doc_id,
      |  CAST(nt.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(coalesce(r.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      |  CAST(nt.n_tokens - coalesce(r.dup_tokens, 0) AS BIGINT)
      |    AS kept_tokens
      |FROM nt LEFT JOIN removed r ON nt.doc_id = r.doc""".stripMargin

  /** Twin of [[TextAnalysis.dupNgramStats]]: per-length gram blocks are
    * generated for the same n = 2..8 set; the packed-long argmax and the
    * post-pivot integer `//` divisions replay the Spark side exactly. */
  private lazy val dupNgramsSql: String = {
    val gramBlocks = (2 to 8).map { n =>
      s"""  SELECT doc_id, n_chars, $n AS n,
         |    unnest(list_transform(range(1, len(tk) - ${n - 2}),
         |      i -> array_to_string(tk[i:i+${n - 1}], ' '))) AS gram
         |  FROM toks WHERE len(tk) >= $n""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val pivot = ((2 to 4).flatMap { n =>
      Seq(
        s"coalesce(max(CASE WHEN n = $n THEN packed END) // 1000000000, 0)" +
          s" AS top${n}_cnt",
        s"coalesce(max(CASE WHEN n = $n THEN packed END) % 1000000000, 0)" +
          s" * 1000000 // greatest(n_chars, 1) AS top${n}_ppm")
    } ++ (5 to 8).map { n =>
      s"coalesce(max(CASE WHEN n = $n THEN dupmass END), 0)" +
        s" * 1000000 // greatest(n_chars, 1) AS dup${n}_ppm"
    }).mkString(",\n    ")
    val outCols = ((2 to 4).flatMap { n =>
      Seq(s"top${n}_cnt", s"top${n}_ppm")
    } ++ (5 to 8).map(n => s"dup${n}_ppm"))
      .map(c => s"CAST(coalesce(w.$c, 0) AS BIGINT) AS $c")
      .mkString(",\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
       |    list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
       |      '\\s+'), t -> len(t) > 0) AS tk
       |  FROM documents),
       |g AS (
       |$gramBlocks),
       |c AS (
       |  SELECT doc_id, n_chars, n, gram, count(*) AS cnt,
       |    CAST(length(gram) AS BIGINT) AS glen
       |  FROM g GROUP BY doc_id, n_chars, n, gram),
       |p AS (
       |  SELECT doc_id, n_chars, n,
       |    max(cnt * 1000000000 + cnt * glen) AS packed,
       |    sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END) AS dupmass
       |  FROM c GROUP BY doc_id, n_chars, n),
       |w AS (
       |  SELECT doc_id, n_chars,
       |    $pivot
       |  FROM p GROUP BY doc_id, n_chars)
       |SELECT d.doc_id,
       |  $outCols
       |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id""".stripMargin
  }

  val sql: Map[String, String] = {
    val m = sqlList.toMap
    require(m.size == sqlList.size,
      "duplicate oracle keys: " + sqlList.map(_._1)
        .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
        .mkString(","))
    m
  }

  /** Shared twin of `knn_ivf_fixed` AND `knn_ivf_append`: the fixed
    * literal codebook replays the whole IVF dataflow in SQL, and the
    * appended at-rest layout must be result-identical to the in-memory
    * query over the full corpus — so ONE oracle serves both keys. */
  /** The fixed-codebook IVF replay, parameterized by an extra corpus-side
    * candidate predicate (`c` is the cells alias; "" = unfiltered) — one
    * body so `knn_ivf_fixed` / `knn_ivf_append` / `knn_ivf_filtered`
    * cannot drift. */
  private def knnIvfFixedSqlWhere(candFilter: String,
                                  nprobe: Int = 2): String = {
    val cents = graft.operators.Similarity.fixedCodebook(4, 64)
    def dot(a: String, lits: Seq[Long]): String =
      s"CAST(list_sum(list_transform(list_zip($a, " +
        lits.mkString("[", ",", "]") + "), z -> z[1]*z[2])) AS BIGINT)"
    val scores = cents.zipWithIndex
      .map { case (c, j) => s"${dot("q", c)} AS s$j" }.mkString(",\n  ")
    val probeUnion = cents.indices
      .map(j => s"SELECT vec_id, q, $j AS cell, s$j AS cs " +
        "FROM scored WHERE vec_id < 20")
      .mkString("\n      UNION ALL ")
    s"""WITH iq AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |scored AS (SELECT vec_id, label, q,
       |  $scores
       |  FROM iq),
       |cells AS (SELECT vec_id, label, q,
       |  CASE WHEN s0>=s1 AND s0>=s2 AND s0>=s3 THEN 0
       |       WHEN s1>=s2 AND s1>=s3 THEN 1
       |       WHEN s2>=s3 THEN 2 ELSE 3 END AS cell
       |  FROM scored),
       |qprobe AS (
       |  SELECT vec_id AS query_id, q AS qq, cell FROM (
       |    SELECT vec_id, q, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS pr
       |    FROM (
       |      $probeUnion))
       |  WHERE pr <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(p.qq, c.q),
       |      z -> z[1]*z[2])) AS BIGINT) AS score
       |  FROM qprobe p JOIN cells c USING (cell)
       |  WHERE p.query_id <> c.vec_id$candFilter)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
       |FROM (
       |  SELECT query_id, neighbor_id, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC)
       |    AS rank
       |  FROM cand)
       |WHERE rank <= 5""".stripMargin
  }

  private lazy val knnIvfFixedSql: String = knnIvfFixedSqlWhere("")

  /** IVF recall oracle: the fixed-tier chain at the operating nprobe=2
    * left-joined under the SAME chain probing ALL 4 cells (= the exact
    * integer-dot brute force). DuckDB supports a nested WITH inside a
    * parenthesized CTE body. */
  private lazy val knnIvfRecallSql: String =
    s"""WITH exact AS (
       |${knnIvfFixedSqlWhere("", nprobe = 4)}
       |), ivf AS (
       |${knnIvfFixedSqlWhere("", nprobe = 2)}
       |)
       |SELECT e.query_id, count(*) AS n_exact,
       |  CAST(sum(CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END)
       |    AS BIGINT) AS n_found,
       |  CAST(sum(CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END)
       |    ::HUGEINT * 1000000 // count(*) AS BIGINT) AS recall_ppm
       |FROM exact e LEFT JOIN ivf i
       |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
       |GROUP BY 1""".stripMargin

  /** Exact-k-means CTE chain, shared by `emb_kmeans` and the TRAINED IVF
    * oracle (`knn_ivf` / `knn_ivf_at_rest` — r17): `iq` milli-quantizes
    * the embeddings, `c0` seeds from the `k` smallest vec_ids in id
    * order, then each iteration runs an argmin assignment (full squared-
    * L2 via list_zip — same argmin and ties as the engine's expanded
    * −2·q·c+|c|² form, which differs only by the per-vector |q|²
    * constant) and an integer floor-average update where empty cells
    * keep their previous centroid. Returns (ctes, finalAssign,
    * finalCentroids): finalAssign(vec_id, q, cell) is the corpus
    * assignment under the trained codebook finalCentroids(j, c).
    * MATERIALIZED on iq and every centroid table: DuckDB inlines CTEs
    * referenced more than once (each c_i feeds the next assign AND the
    * next update), which would re-derive the whole training chain per
    * reference — the XxhSql lesson. */
  private def exactKmeansCtes(k: Int, iters: Int,
                              dim: Int = 64, prefix: String = "",
                              vecSql: String = "embedding")
      : (String, String, String) = {
    // floor division (round toward -inf) on BIGINT — numerator is an
    // exact multiple, so the double quotient is exact
    def fdiv(s: String, c: String): String =
      s"CAST((($s) - ((($s) % ($c) + ($c)) % ($c))) / ($c) AS BIGINT)"
    val centroidList = (1 to dim)
      .map(d => fdiv(s"SUM(q[$d])", "COUNT(*)"))
      .mkString("list_value(", ", ", ")")
    def assign(cTab: String, out: String, mat: Boolean): String = {
      val as = if (mat) "AS MATERIALIZED" else "AS"
      s"""$out $as (
         |  SELECT vec_id, q, j AS cell FROM (
         |    SELECT a.vec_id, a.q, c.j,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_sum(list_transform(list_zip(a.q, c.c),
         |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.j) AS rn
         |    FROM ${prefix}iq a CROSS JOIN $cTab c)
         |  WHERE rn = 1)""".stripMargin
    }
    def update(assigned: String, prevC: String, out: String): String =
      s"""${out}_agg AS (
         |  SELECT cell AS j, $centroidList AS c
         |  FROM $assigned GROUP BY cell),
         |$out AS MATERIALIZED (
         |  SELECT p.j, COALESCE(u.c, p.c) AS c
         |  FROM $prevC p LEFT JOIN ${out}_agg u ON u.j = p.j)""".stripMargin
    val steps = (1 to iters).map { i =>
      assign(s"${prefix}c${i - 1}", s"${prefix}a$i", mat = false) + ",\n" +
        update(s"${prefix}a$i", s"${prefix}c${i - 1}", s"${prefix}c$i")
    }
    val aF = s"${prefix}a${iters + 1}"
    val ctes =
      s"""${prefix}iq AS MATERIALIZED (
         |  SELECT vec_id, list_transform($vecSql,
         |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |${prefix}c0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         |    AS j, q AS c
         |  FROM (SELECT vec_id, q FROM ${prefix}iq ORDER BY vec_id LIMIT $k)),
         |${steps.mkString(",\n")},
         |${assign(s"${prefix}c$iters", aF, mat = true)}""".stripMargin
    (ctes, aF, s"${prefix}c$iters")
  }


  /** The trained-tier probe-cell ranking block (r17 review: ONE copy
    * for all three trained-ANN oracles): each query's cells ranked by
    * squared-L2 against the trained centroids, ties to the smallest
    * cell, keeping `nprobe` — the exact twin of the engine's
    * `Similarity.ivfProbes`. `extra` forwards query-side columns. */
  private def probeRankSql(iqTable: String, centroidTable: String,
                           extra: String = "", nprobe: Int = 4): String = {
    val keepExtra = if (extra.isEmpty) "" else s", $extra"
    s"""SELECT vec_id AS query_id$keepExtra, cell FROM (
       |    SELECT a.*, c.j AS cell, row_number() OVER (
       |      PARTITION BY a.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(a.q, c.c),
       |          z -> (z[1]-z[2])*(z[1]-z[2]))), c.j) AS pr
       |    FROM $iqTable a CROSS JOIN $centroidTable c WHERE a.vec_id < 20)
       |  WHERE pr <= $nprobe""".stripMargin
  }

  /** Shared twin of `knn_ivf` AND `knn_ivf_at_rest` (r17): the trained-
    * exact IVF replay — re-derive the integer k-means codebook (the
    * [[exactKmeansCtes]] chain, bit-identical to the engine's
    * Embeddings.exactCentroids), rank each query's 4 probe cells by
    * squared-L2 ties-to-smallest-cell, then score candidates with the
    * exact integer dot and take the top 5 (ties to the smallest
    * neighbor). The at-rest layout must be result-identical to the
    * in-memory query over the same corpus, so ONE oracle serves both
    * keys — a hash match on the partitioned path proves the layout is
    * invisible to queries (the knn_ivf_append contract on the trained
    * tier). */
  private lazy val knnIvfExactSql: String = {
    val (ctes, aF, cF) = exactKmeansCtes(k = 16, iters = 2)
    s"""WITH $ctes,
       |qprobe AS (
       |  ${probeRankSql("iq", cF, extra = "q AS qq")}),
       |cand AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(p.qq, c.q),
       |      z -> z[1]*z[2])) AS BIGINT) AS score
       |  FROM qprobe p JOIN $aF c ON p.cell = c.cell
       |  WHERE p.query_id <> c.vec_id)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
       |FROM (
       |  SELECT query_id, neighbor_id, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC)
       |    AS rank
       |  FROM cand)
       |WHERE rank <= 5""".stripMargin
  }

  /** Trained IVF,SQ8 replay (r17): the [[exactKmeansCtes]] codebook
    * derivation composed with `knn_ivf_sq8_fixed`'s proven int8-score /
    * fp32-re-rank tail — cells and probes come from the trained integer
    * k-means (L2 argmin / L2 probe ranking), candidate scoring is the
    * integer-ratio int8 cosine (same IEEE divide/sqrt both engines),
    * re-rank is fp32 cosine with ties by neighbor. */
  private lazy val knnIvfSq8ExactSql: String = {
    val (ctes, aF, cF) = exactKmeansCtes(k = 16, iters = 2)
    s"""WITH $ctes,
       |base AS (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v,
       |    list_max(list_transform(embedding,
       |      e -> abs(CAST(e AS DOUBLE)))) AS m
       |  FROM embeddings),
       |codes AS (
       |  SELECT vec_id, embedding, v,
       |    CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |         ELSE list_transform(v,
       |           x -> CAST(round(x * 127 / m) AS BIGINT)) END AS c8
       |  FROM base),
       |corpus AS (
       |  SELECT c.vec_id, c.v, c.c8, a.cell
       |  FROM codes c JOIN $aF a USING (vec_id)
       |  WHERE len(list_filter(c.embedding, x -> x <> 0)) > 0),
       |qprobe AS (
       |  ${probeRankSql("iq", cF)}),
       |qside AS (
       |  SELECT vec_id AS query_id, v AS qv, c8 AS q8 FROM codes
       |  WHERE vec_id < 20),
       |pairs AS (
       |  SELECT p.query_id, s.qv, c.vec_id AS neighbor_id, c.v AS cv,
       |    list_sum(list_transform(list_zip(s.q8, c.c8),
       |      z -> z[1]*z[2])) AS dot,
       |    list_sum(list_transform(s.q8, x -> x*x)) AS na,
       |    list_sum(list_transform(c.c8, x -> x*x)) AS nb
       |  FROM qprobe p JOIN qside s USING (query_id)
       |       JOIN corpus c USING (cell)
       |  WHERE c.vec_id <> p.query_id),
       |approx AS (
       |  SELECT query_id, neighbor_id, qv, cv,
       |    CASE WHEN na = 0 OR nb = 0 THEN 0.0
       |         ELSE CAST(dot AS DOUBLE) /
       |           sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS ic
       |  FROM pairs),
       |cand AS (
       |  SELECT query_id, neighbor_id, qv, cv FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY ic DESC, neighbor_id) AS cr
       |    FROM approx) WHERE cr <= 25),
       |ranked AS (
       |  SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id
       |    ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
       |  FROM cand)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** Trained PQ/ADC replay (r17), optionally under the coarse IVF cells:
    * m per-subspace [[exactKmeansCtes]] chains (prefix `p{j}_`, source =
    * the j-th list slice — slice-then-quantize == quantize-then-slice
    * elementwise) re-derive the sub-books; corpus codes are each chain's
    * final assignment, the per-pair ADC distance is the summed
    * `−2·q_j·c(code_j) + |c(code_j)|²` over subspaces (the per-(query,
    * subspace) `|q_j|²` constant cannot change a per-query ranking), the
    * shortlist cut is ADC ascending ties-to-neighbor (the engine ranks
    * the NEGATED distance descending — identical order), and the fp32
    * cosine re-rank is the proven `knn_brute` form. The IVF variant adds
    * the `g_`-prefixed coarse chain and the [[knnIvfExactSql]] probe
    * ranking as a candidate filter. */
  private def pqAdcExactSqlFor(ivf: Boolean): String = {
    val m = 16; val dsub = 4; val ksub = 16
    val chains = (0 until m).map { j =>
      exactKmeansCtes(k = ksub, iters = 2, dim = dsub, prefix = s"p${j}_",
        vecSql = s"embedding[${j * dsub + 1}:${(j + 1) * dsub}]")
    }
    val coarse =
      if (ivf) Some(exactKmeansCtes(k = 16, iters = 2, prefix = "g_"))
      else None
    val allChains = (chains.map(_._1) ++ coarse.map(_._1)).mkString(",\n")
    val subsCorpus = (0 until m).map(j =>
      s"SELECT $j AS sub, vec_id, cell FROM ${chains(j)._2}")
      .mkString("\n    UNION ALL ")
    val subsQ = (0 until m).map(j =>
      s"SELECT $j AS sub, vec_id, q FROM p${j}_iq WHERE vec_id < 20")
      .mkString("\n    UNION ALL ")
    val subsCb = (0 until m).map(j =>
      s"SELECT $j AS sub, j AS cell, c FROM ${chains(j)._3}")
      .mkString("\n    UNION ALL ")
    val ivfCtes = coarse.map { case (_, gaF, gcF) =>
      s""",
         |gprobe AS (
         |  ${probeRankSql("g_iq", gcF)}),
         |gcell AS (SELECT vec_id, cell FROM $gaF)""".stripMargin
    }.getOrElse("")
    val ivfJoin =
      if (ivf)
        "\n  JOIN gcell gc ON gc.vec_id = n.vec_id" +
          "\n  JOIN gprobe pr ON pr.query_id = q.vec_id AND pr.cell = gc.cell"
      else ""
    s"""WITH $allChains$ivfCtes,
       |nz AS (SELECT vec_id FROM embeddings
       |       WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
       |subs_corpus AS (
       |    $subsCorpus),
       |subs_q AS (
       |    $subsQ),
       |subs_cb AS (
       |    $subsCb),
       |adc AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    CAST(SUM(-2 * list_sum(list_transform(list_zip(q.q, cb.c),
       |          z -> z[1]*z[2]))
       |        + list_sum(list_transform(cb.c, x -> x*x))) AS BIGINT) AS adc
       |  FROM subs_q q
       |  JOIN subs_corpus n USING (sub)
       |  JOIN subs_cb cb ON cb.sub = n.sub AND cb.cell = n.cell
       |  JOIN nz ON nz.vec_id = n.vec_id$ivfJoin
       |  WHERE n.vec_id <> q.vec_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY adc ASC, neighbor_id) AS cr
       |    FROM adc) WHERE cr <= 25),
       |vecs AS (SELECT vec_id,
       |    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
       |  FROM embeddings),
       |ranked AS (
       |  SELECT c.query_id, c.neighbor_id, row_number() OVER (
       |    PARTITION BY c.query_id ORDER BY
       |      list_cosine_similarity(qv.v, nv.v) DESC, c.neighbor_id) AS rank
       |  FROM cand c
       |  JOIN vecs qv ON qv.vec_id = c.query_id
       |  JOIN vecs nv ON nv.vec_id = c.neighbor_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  private lazy val knnPqAdcExactSql: String = pqAdcExactSqlFor(ivf = false)
  private lazy val knnIvfPqExactSql: String = pqAdcExactSqlFor(ivf = true)

  /** Temperature-allocation CTE chain (ends at `talloc`): sqrt(n) weight
    * in integer micro-units, Hamilton apportionment of `budget`, clamp
    * to group size — the Spark side's decimal(38,0) products become
    * HUGEINT here (intermediate only; every output column casts back to
    * BIGINT for the type audit). */
  private def temperatureCtes(budget: Long, group: String = "lang",
                              clamped: Boolean = true): String = {
    val raw = "base + CASE WHEN rk <= (SELECT leftover FROM tl)" +
      " THEN 1 ELSE 0 END"
    val alloc = if (clamped) s"least($raw, n_docs)" else raw
    s"""tc AS (
      |  SELECT $group, count(*) AS n_docs FROM documents GROUP BY 1
      |), tww AS (
      |  SELECT $group, n_docs,
      |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
      |      AS w_q
      |  FROM tc
      |), twt AS (SELECT CAST(sum(w_q) AS BIGINT) AS tw FROM tww
      |), tb AS (
      |  SELECT $group, n_docs, w_q,
      |    CAST(CAST(w_q AS HUGEINT) * $budget // tw AS BIGINT) AS base,
      |    CAST(CAST(w_q AS HUGEINT) * $budget % tw AS BIGINT) AS trem
      |  FROM tww, twt
      |), tl AS (
      |  SELECT $budget - CAST(sum(base) AS BIGINT) AS leftover FROM tb
      |), tr AS (
      |  SELECT tb.*, row_number() OVER (ORDER BY trem DESC, $group ASC)
      |    AS rk
      |  FROM tb
      |), talloc AS (
      |  SELECT $group, n_docs, w_q,
      |    $alloc AS alloc
      |  FROM tr)""".stripMargin
  }

  /** The CCNet perplexity-bucket CTE chain (lm_doc_score's micro-nat
    * model over `from`, per-doc mean COST via `//` on the NEGATED score —
    * non-negative, so DuckDB's floor division equals Spark's truncating
    * `div` — then rank-based per-lang terciles). Ends at `bucketed`. */
  private def pplCtes(from: String = "documents"): String =
    s"""pbase AS (
      |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+')
      |    AS t
      |  FROM $from
      |), pbg AS (
      |  SELECT doc_id, lang, CASE WHEN len(t) >= 2
      |              THEN list_transform(range(len(t) - 1),
      |                     i -> t[i+1] || ' ' || t[i+2])
      |              ELSE [] END AS bigrams
      |  FROM pbase
      |), pdb AS (
      |  SELECT doc_id, unnest(bigrams) AS bigram FROM pbg
      |), pcnt AS (
      |  SELECT bigram, count(*) AS n FROM pdb GROUP BY 1
      |), ptop AS (
      |  SELECT bigram, n FROM (
      |    SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC)
      |      AS r FROM pcnt) WHERE r <= 200
      |), ptot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM ptop
      |), plm AS (
      |  SELECT bigram, CAST(round(ln(n / t) * 1000000) AS BIGINT)
      |    AS logp_q
      |  FROM ptop, ptot
      |), psc AS (
      |  SELECT pdb.doc_id, count(*) AS n_bigrams,
      |    CAST(sum(coalesce(plm.logp_q, -12000000)) AS BIGINT) AS score_q
      |  FROM pdb LEFT JOIN plm USING (bigram) GROUP BY 1
      |), perdoc AS (
      |  SELECT d.doc_id, d.lang,
      |    coalesce(s.n_bigrams, 0) AS n_bigrams,
      |    CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 12000000
      |         ELSE (-s.score_q) // s.n_bigrams END AS mean_cost_q
      |  FROM $from d LEFT JOIN psc s USING (doc_id)
      |), pranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY mean_cost_q ASC, doc_id ASC) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS nl
      |  FROM perdoc
      |), bucketed AS (
      |  SELECT doc_id, lang, n_bigrams,
      |    CAST(mean_cost_q AS BIGINT) AS mean_cost_q,
      |    CASE WHEN rn * 3 <= nl THEN 'head'
      |         WHEN rn * 3 <= nl * 2 THEN 'middle'
      |         ELSE 'tail' END AS ppl_bucket
      |  FROM pranked)""".stripMargin

  /** The DSIR CTE chain shared by both twins: the lm_doc_score micro-nat
    * model chain run twice (target = lang='en' rows, raw = all docs),
    * differenced per bigram occurrence with the -12e6 floor per
    * out-of-model side. A def (order-independent): `val sql` above forces
    * twin strings during object init — see winnowCtes' lazy note. */
  private def dsirCtes(from: String = "documents"): String =
    s"""base AS (
      |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+')
      |    AS t
      |  FROM $from
      |), bg AS (
      |  SELECT doc_id, lang, CASE WHEN len(t) >= 2
      |              THEN list_transform(range(len(t) - 1),
      |                     i -> t[i+1] || ' ' || t[i+2])
      |              ELSE [] END AS bigrams
      |  FROM base
      |), db AS (
      |  SELECT doc_id, lang, unnest(bigrams) AS bigram FROM bg
      |), tcnt AS (
      |  SELECT bigram, count(*) AS n FROM db WHERE lang = 'en' GROUP BY 1
      |), ttop AS (
      |  SELECT bigram, n FROM (
      |    SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC)
      |      AS r FROM tcnt) WHERE r <= 200
      |), ttot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM ttop
      |), tlm AS (
      |  SELECT bigram, CAST(round(ln(n / t) * 1000000) AS BIGINT)
      |    AS logp_t_q
      |  FROM ttop, ttot
      |), rcnt AS (
      |  SELECT bigram, count(*) AS n FROM db GROUP BY 1
      |), rtop AS (
      |  SELECT bigram, n FROM (
      |    SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC)
      |      AS r FROM rcnt) WHERE r <= 200
      |), rtot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM rtop
      |), rlm AS (
      |  SELECT bigram, CAST(round(ln(n / t) * 1000000) AS BIGINT)
      |    AS logp_r_q
      |  FROM rtop, rtot
      |), sc AS (
      |  SELECT db.doc_id, count(*) AS n_bigrams,
      |    CAST(sum(coalesce(tlm.logp_t_q, -12000000)
      |           - coalesce(rlm.logp_r_q, -12000000)) AS BIGINT) AS lw_q
      |  FROM db LEFT JOIN tlm USING (bigram) LEFT JOIN rlm USING (bigram)
      |  GROUP BY 1
      |), w AS (
      |  SELECT d.doc_id,
      |    coalesce(s.n_bigrams, 0) AS n_bigrams,
      |    coalesce(s.lw_q, 0) AS logw_q
      |  FROM $from d LEFT JOIN sc s USING (doc_id))""".stripMargin

  private def dsirWeightsSql: String =
    s"""WITH ${dsirCtes()}
       |SELECT doc_id, n_bigrams, logw_q FROM w""".stripMargin

  /** RHO-excess CTE chain (rh* prefix; ends at `rhw`): the dsirCtes
    * two-model shape with a holdout/train split (doc_id % 10 = 7 is the
    * held-out fold) — train-model cost minus holdout-model cost per
    * TRAIN document, mean costs via `//` on the negated (non-negative)
    * sums. */
  private def rhoCtes(from: String = "documents"): String =
    s"""rhbase AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      |  FROM $from
      |), rhbg AS (
      |  SELECT doc_id, CASE WHEN len(t) >= 2
      |              THEN list_transform(range(len(t) - 1),
      |                     i -> t[i+1] || ' ' || t[i+2])
      |              ELSE [] END AS bigrams
      |  FROM rhbase
      |), rhdb AS (
      |  SELECT doc_id, unnest(bigrams) AS bigram FROM rhbg
      |), rhtc AS (
      |  SELECT bigram, count(*) AS n FROM rhdb
      |  WHERE doc_id % 10 != 7 GROUP BY 1
      |), rhtt AS (
      |  SELECT bigram, n FROM (
      |    SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC)
      |      AS r FROM rhtc) WHERE r <= 200
      |), rhttot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM rhtt
      |), rhtlm AS (
      |  SELECT bigram, CAST(round(ln(n / t) * 1000000) AS BIGINT)
      |    AS logp_tr_q
      |  FROM rhtt, rhttot
      |), rhhc AS (
      |  SELECT bigram, count(*) AS n FROM rhdb
      |  WHERE doc_id % 10 = 7 GROUP BY 1
      |), rhht AS (
      |  SELECT bigram, n FROM (
      |    SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC)
      |      AS r FROM rhhc) WHERE r <= 200
      |), rhhtot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM rhht
      |), rhhlm AS (
      |  SELECT bigram, CAST(round(ln(n / t) * 1000000) AS BIGINT)
      |    AS logp_ho_q
      |  FROM rhht, rhhtot
      |), rhsc AS (
      |  SELECT rhdb.doc_id, count(*) AS n_bigrams,
      |    CAST(sum(coalesce(rhtlm.logp_tr_q, -12000000)) AS BIGINT)
      |      AS s_tr,
      |    CAST(sum(coalesce(rhhlm.logp_ho_q, -12000000)) AS BIGINT)
      |      AS s_ho
      |  FROM rhdb LEFT JOIN rhtlm USING (bigram)
      |       LEFT JOIN rhhlm USING (bigram)
      |  WHERE rhdb.doc_id % 10 != 7
      |  GROUP BY 1
      |), rhw AS (
      |  SELECT d.doc_id,
      |    coalesce(s.n_bigrams, 0) AS n_bigrams,
      |    CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 12000000
      |         ELSE (-s.s_tr) // s.n_bigrams END AS cost_train_q,
      |    CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 12000000
      |         ELSE (-s.s_ho) // s.n_bigrams END AS cost_holdout_q
      |  FROM $from d LEFT JOIN rhsc s USING (doc_id)
      |  WHERE d.doc_id % 10 != 7)""".stripMargin

  /** The winnowing CTE chain parameterized by (k, w) — positions and
    * slice widths mirror the WinnowFingerprints kernel index-for-index.
    * A def (order-independent; see the dsirCtes note). */
  private def winnowCtesFor(k: Int, w: Int, from: String = "documents",
                            prefix: String = ""): String =
    s"""${prefix}cs AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]', '', 'g')
       |      AS s
       |  FROM $from),
       |${prefix}g AS (
       |  SELECT doc_id, CASE WHEN length(s) >= $k THEN
       |      list_transform(range(1, length(s) - ${k - 2}),
       |        i -> substr(md5(substring(s, i, $k)), 1, 16))
       |    ELSE [] END AS grams
       |  FROM ${prefix}cs),
       |${prefix}fp AS (
       |  SELECT doc_id, CASE WHEN len(grams) >= $w THEN
       |      list_distinct(list_transform(range(1, len(grams) - ${w - 2}),
       |        j -> list_aggregate(grams[j:j+${w - 1}], 'min')))
       |    ELSE [] END AS fp
       |  FROM ${prefix}g)""".stripMargin

  // lazy: `val sql` (declared above) forces the twin strings during
  // object init, BEFORE this line's initializer would run — a plain val
  // here interpolates as "null" (shipped once; caught by the gate)
  private lazy val winnowCtes: String = "WITH " + winnowCtesFor(5, 4)

  /** Twin of [[TextAnalysis.winnowFingerprints]]. */
  private lazy val winnowFingerprintsSql: String =
    s"""$winnowCtes
       |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fingerprints,
       |  md5(array_to_string(list_sort(fp), ',')) AS fp_digest
       |FROM fp""".stripMargin

  /** The winnow pair list as a `pairs` CTE — shared by the pair twin and
    * the cluster-closure twin. The closure references `pairs` twice (both
    * edge directions), and DuckDB inlines CTEs by default — re-running
    * the whole winnow chain per reference — so the closure variant asks
    * for MATERIALIZED (measured 15.6 s → ~8 s at sf0.01). */
  private def winnowPairCtes(materialized: Boolean = false,
                             from: String = "documents",
                             prefix: String = "",
                             capSql: String = "20"): String = {
    val mat = if (materialized) "MATERIALIZED " else ""
    val p = prefix
    s"""${winnowCtesFor(5, 4, from, p)},
       |${p}ex AS (SELECT doc_id AS doc, unnest(fp) AS f FROM ${p}fp),
       |${p}cold AS (
       |  SELECT * FROM ${p}ex WHERE f NOT IN (
       |    SELECT f FROM ${p}ex GROUP BY 1 HAVING count(*) > $capSql)),
       |${p}pairs AS $mat(
       |  SELECT a.doc AS id_a, b.doc AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM ${p}cold a JOIN ${p}cold b USING (f) WHERE a.doc < b.doc
       |  GROUP BY 1, 2 HAVING count(*) >= 8)""".stripMargin
  }

  /** Twin of [[TextAnalysis.winnowPairs]]. */
  private lazy val winnowPairsSql: String =
    s"""WITH ${winnowPairCtes()}
       |SELECT id_a, id_b, n_shared FROM pairs""".stripMargin

  /** Twin of the relative-cap winnowPairs (`maxDfPerMille = 20`): the
    * effective cap is max(20, n_docs·20/1000) with n_docs the document
    * count — Spark derives it as countDistinct(doc) over the
    * explode_outer'd scan (one row per doc even when fp is empty), which
    * equals count(*) over the unique-keyed documents table; operands
    * non-negative, so `//` == Spark's `div`. */
  private lazy val winnowPairsRelSql: String =
    s"""WITH ${winnowPairCtes(capSql =
      "greatest(20, (SELECT count(*) FROM documents) * 20 // 1000)")}
       |SELECT id_a, id_b, n_shared FROM pairs""".stripMargin

  /** Twin of the winnow cluster closure: the dedup_clusters recursive
    * reachability over the winnow pair list instead of the Jaccard one. */
  private lazy val winnowClustersSql: String =
    s"""WITH RECURSIVE ${winnowPairCtes(materialized = true)},
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION
       |  SELECT id_b AS u, id_a AS v FROM pairs
       |), reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |)
       |SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY 1""".stripMargin

  /** Twin of [[Similarity.negativeSamples]]: the exact top-10 cosine
    * exclusion replays like `knn_brute`, the pick order is the identical
    * md5('neg':query:candidate) string (DuckDB md5 = hex, compared as
    * text on both sides), ties impossible (candidate ids unique per
    * query). */
  private lazy val negativeSamplesSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |           FROM embeddings WHERE vec_id < 20),
      |near AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (
      |      PARTITION BY q.query_id ORDER BY
      |        list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
      |          CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS r
      |    FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id)
      |  WHERE r <= 10),
      |cand AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id
      |  FROM q CROSS JOIN embeddings e
      |  WHERE e.vec_id <> q.query_id
      |    AND NOT EXISTS (SELECT 1 FROM near n
      |      WHERE n.query_id = q.query_id AND n.neighbor_id = e.vec_id))
      |SELECT query_id, CAST(rank AS BIGINT) AS rank,
      |  neighbor_id AS negative_id
      |FROM (
      |  SELECT query_id, neighbor_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY
      |      md5('neg:' || query_id || ':' || neighbor_id) ASC,
      |      neighbor_id ASC) AS rank
      |  FROM cand)
      |WHERE rank <= 5""".stripMargin

  /** Twin of [[Similarity.matryoshkaRecall]]: both exact top-5 rankings
    * replay with the same DOUBLE cosine and (cos DESC, id) tiebreak as
    * `knn_brute`; the truncated side slices each list to its first 32
    * components. */
  private lazy val matryoshkaRecallSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |           FROM embeddings WHERE vec_id < 20),
      |full_r AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (
      |      PARTITION BY q.query_id ORDER BY
      |        list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
      |          CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
      |    FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id)
      |  WHERE rank <= 5),
      |short_r AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (
      |      PARTITION BY q.query_id ORDER BY
      |        list_cosine_similarity(CAST(q.qv[1:32] AS DOUBLE[]),
      |          CAST(e.embedding[1:32] AS DOUBLE[])) DESC, e.vec_id) AS rank
      |    FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id)
      |  WHERE rank <= 5)
      |SELECT q.query_id,
      |  CAST(coalesce(o.n, 0) AS BIGINT) AS overlap_at_5
      |FROM q LEFT JOIN (
      |  SELECT query_id, count(*) AS n
      |  FROM full_r JOIN short_r USING (query_id, neighbor_id)
      |  GROUP BY 1) o USING (query_id)""".stripMargin

  /** Shared pieces of the fixed-PQ twins (dsub = 4 → m = 16 over 64
    * dims, weight 100): one-hot sub-books collapse PQ encode to
    * code_j = argmax_c q[4j+c] (ties smallest — the CASE chain replays
    * the struct-greatest tiebreak) and the ADC score to
    * Σ_j 100·q_q[4j+code_j], all BIGINT. */
  private def pqFixedCodes: String =
    """list_transform(generate_series(0, 15), j ->
      |    CASE WHEN q[j*4+1] >= q[j*4+2] AND q[j*4+1] >= q[j*4+3]
      |              AND q[j*4+1] >= q[j*4+4] THEN 0
      |         WHEN q[j*4+2] >= q[j*4+3] AND q[j*4+2] >= q[j*4+4] THEN 1
      |         WHEN q[j*4+3] >= q[j*4+4] THEN 2 ELSE 3 END) AS codes""".stripMargin

  private def pqFixedScore: String =
    """CAST(list_sum(list_transform(generate_series(0, 15),
      |      j -> 100 * p.qq[j*4 + c.codes[j+1] + 1])) AS BIGINT)""".stripMargin

  private def pqFixedTopK: String =
    """SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
      |FROM (
      |  SELECT query_id, neighbor_id, score, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC)
      |    AS rank
      |  FROM cand)
      |WHERE rank <= 5""".stripMargin

  private lazy val knnPqAdcFixedSql: String =
    s"""WITH iq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |codes AS (SELECT vec_id, $pqFixedCodes
       |  FROM iq),
       |qs AS (SELECT vec_id AS query_id, q AS qq FROM iq WHERE vec_id < 20),
       |cand AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    $pqFixedScore AS score
       |  FROM codes c, qs p WHERE c.vec_id <> p.query_id)
       |$pqFixedTopK""".stripMargin

  /** IVF(fixed coarse codebook) + PQ(fixed one-hot sub-books): the cell
    * pruning replays exactly as in [[knnIvfFixedSql]], the candidate
    * scoring as in [[knnPqAdcFixedSql]]. */
  private lazy val knnIvfPqFixedSql: String = {
    val cents = graft.operators.Similarity.fixedCodebook(4, 64)
    def dot(a: String, lits: Seq[Long]): String =
      s"CAST(list_sum(list_transform(list_zip($a, " +
        lits.mkString("[", ",", "]") + "), z -> z[1]*z[2])) AS BIGINT)"
    val scores = cents.zipWithIndex
      .map { case (c, j) => s"${dot("q", c)} AS s$j" }.mkString(",\n  ")
    val probeUnion = cents.indices
      .map(j => s"SELECT vec_id, q, $j AS cell, s$j AS cs " +
        "FROM scored WHERE vec_id < 20")
      .mkString("\n      UNION ALL ")
    s"""WITH iq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |scored AS (SELECT vec_id, q,
       |  $scores
       |  FROM iq),
       |cells AS (SELECT vec_id, q,
       |  CASE WHEN s0>=s1 AND s0>=s2 AND s0>=s3 THEN 0
       |       WHEN s1>=s2 AND s1>=s3 THEN 1
       |       WHEN s2>=s3 THEN 2 ELSE 3 END AS cell
       |  FROM scored),
       |codes AS (SELECT vec_id, cell, $pqFixedCodes
       |  FROM cells),
       |qprobe AS (
       |  SELECT vec_id AS query_id, q AS qq, cell FROM (
       |    SELECT vec_id, q, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS pr
       |    FROM (
       |      $probeUnion))
       |  WHERE pr <= 2),
       |cand AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    $pqFixedScore AS score
       |  FROM qprobe p JOIN codes c USING (cell)
       |  WHERE c.vec_id <> p.query_id)
       |$pqFixedTopK""".stripMargin
  }

  /** Gopher-rule CTE chain (g* prefix; final relation `gpass`): the
    * engine's [[graft.operators.TextAnalysis.gopherRules]] replayed —
    * whitespace tokens of lower(trim(text)), newline lines, replace()-
    * delta character counts, cross-multiplied ratio flags. Shared by the
    * standalone report and the `pipeline_gopher` capstone. */
  private lazy val gopherCtes: String = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopSum = stops.map(sw =>
      s"(CASE WHEN list_contains(ws, '$sw') THEN 1 ELSE 0 END)")
      .mkString("\n      + ")
    s"""gbase AS (
       |  SELECT doc_id, coalesce(text, '') AS t,
       |    lower(trim(coalesce(text, ''))) AS lt
       |  FROM documents),
       |gtok AS (
       |  SELECT doc_id, t, lt,
       |    list_filter(string_split_regex(lt, '\\s+'),
       |      w -> len(w) > 0) AS ws,
       |    string_split(t, chr(10)) AS ls
       |  FROM gbase),
       |gcnt AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(length(regexp_replace(lt, '\\s+', '', 'g')) AS BIGINT)
       |      AS sum_chars,
       |    CAST(length(t) - length(replace(t, '#', '')) AS BIGINT)
       |      AS n_hash,
       |    CAST((length(t) - length(replace(t, '...', ''))) // 3
       |      + (length(t) - length(replace(t, '…', ''))) AS BIGINT)
       |      AS n_ellipsis,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(ls, l -> starts_with(ltrim(l), '-')
       |      OR starts_with(ltrim(l), '*')
       |      OR starts_with(ltrim(l), '•'))) AS BIGINT)
       |      AS n_bullet_lines,
       |    CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...')
       |      OR ends_with(rtrim(l), '…'))) AS BIGINT)
       |      AS n_ellipsis_lines,
       |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
       |      AS BIGINT) AS n_alpha_words,
       |    CAST($stopSum AS BIGINT) AS n_stopword_hits
       |  FROM gtok),
       |gflag AS (
       |  SELECT *,
       |    CAST(CASE WHEN n_words < 50 OR n_words > 100000
       |         THEN 1 ELSE 0 END AS BIGINT) AS r_word_count,
       |    CAST(CASE WHEN 3 * n_words > sum_chars
       |              OR sum_chars > 10 * n_words
       |         THEN 1 ELSE 0 END AS BIGINT) AS r_mean_wlen,
       |    CAST(CASE WHEN 10 * (n_hash + n_ellipsis) > n_words
       |         THEN 1 ELSE 0 END AS BIGINT) AS r_symbol_ratio,
       |    CAST(CASE WHEN 10 * n_bullet_lines > 9 * n_lines
       |         THEN 1 ELSE 0 END AS BIGINT) AS r_bullet,
       |    CAST(CASE WHEN 10 * n_ellipsis_lines > 3 * n_lines
       |         THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis,
       |    CAST(CASE WHEN 5 * n_alpha_words < 4 * n_words
       |         THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
       |    CAST(CASE WHEN n_stopword_hits < 2
       |         THEN 1 ELSE 0 END AS BIGINT) AS r_stopwords
       |  FROM gcnt),
       |gpass AS (
       |  SELECT *,
       |    CAST(CASE WHEN r_word_count + r_mean_wlen + r_symbol_ratio
       |      + r_bullet + r_ellipsis + r_alpha + r_stopwords = 0
       |      THEN 1 ELSE 0 END AS BIGINT) AS pass
       |  FROM gflag)""".stripMargin
  }

  /** C4-filter CTE chain (k* prefix; final relation `kout`): kept lines
    * end in terminal punctuation AND carry >= 5 words; page gates are
    * membership tests over the case-folded text. */
  private lazy val c4Ctes: String =
    """kbase AS (
      |  SELECT doc_id, coalesce(text, '') AS t,
      |    lower(coalesce(text, '')) AS lt,
      |    string_split(coalesce(text, ''), chr(10)) AS ls
      |  FROM documents),
      |kkept AS (
      |  SELECT doc_id, t, lt, ls,
      |    list_filter(ls, l -> (ends_with(rtrim(l), '.')
      |      OR ends_with(rtrim(l), '!') OR ends_with(rtrim(l), '?')
      |      OR ends_with(rtrim(l), '"'))
      |      AND len(list_filter(string_split_regex(trim(l), '\s+'),
      |        w -> len(w) > 0)) >= 5) AS kls
      |  FROM kbase),
      |kcnt AS (
      |  SELECT doc_id,
      |    CAST(len(ls) AS BIGINT) AS n_lines,
      |    CAST(len(kls) AS BIGINT) AS n_kept_lines,
      |    CAST(coalesce(list_sum(list_transform(kls, l -> length(l))), 0)
      |      AS BIGINT) AS kept_chars,
      |    CAST(length(t) - length(translate(t, '.!?', '')) AS BIGINT)
      |      AS n_sentences,
      |    CAST(CASE WHEN contains(lt, 'lorem ipsum') THEN 1 ELSE 0 END
      |      AS BIGINT) AS f_lorem,
      |    CAST(CASE WHEN contains(lt, '{') THEN 1 ELSE 0 END AS BIGINT)
      |      AS f_brace,
      |    CAST(CASE WHEN contains(lt, 'javascript') THEN 1 ELSE 0 END
      |      AS BIGINT) AS f_javascript
      |  FROM kkept),
      |kout AS (
      |  SELECT *,
      |    CAST(CASE WHEN n_sentences < 3 THEN 1 ELSE 0 END AS BIGINT)
      |      AS f_few_sentences,
      |    CAST(CASE WHEN n_sentences >= 3 AND f_lorem = 0 AND f_brace = 0
      |      AND f_javascript = 0 AND n_kept_lines > 0
      |      THEN 1 ELSE 0 END AS BIGINT) AS kept
      |  FROM kcnt)""".stripMargin

  /** Prototypicality-prune twin: the fixed-codebook cells of
    * `knn_ivf_fixed` (exact integer dots, argmax ties to the smallest
    * index), score = the max dot, rank/cut per cell at the top fifth. */
  private lazy val embPrototypePruneSql: String = {
    val cents = graft.operators.Similarity.fixedCodebook(4, 64)
    def dot(a: String, lits: Seq[Long]): String =
      s"CAST(list_sum(list_transform(list_zip($a, " +
        lits.mkString("[", ",", "]") + "), z -> z[1]*z[2])) AS BIGINT)"
    val scores = cents.zipWithIndex
      .map { case (c, j) => s"${dot("q", c)} AS s$j" }.mkString(",\n  ")
    s"""WITH piq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |psc AS (SELECT vec_id,
       |  $scores
       |  FROM piq),
       |pcell AS (
       |  SELECT vec_id,
       |    CAST(CASE WHEN s0>=s1 AND s0>=s2 AND s0>=s3 THEN 0
       |         WHEN s1>=s2 AND s1>=s3 THEN 1
       |         WHEN s2>=s3 THEN 2 ELSE 3 END AS BIGINT) AS cell,
       |    greatest(s0, s1, s2, s3) AS score
       |  FROM psc),
       |prk AS (
       |  SELECT vec_id, cell, score,
       |    CAST(row_number() OVER (PARTITION BY cell
       |      ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rk,
       |    count(*) OVER (PARTITION BY cell) AS n_cell
       |  FROM pcell)
       |SELECT vec_id, cell, score, rk, n_cell,
       |  CAST(CASE WHEN rk * 5 <= n_cell THEN 1 ELSE 0 END AS BIGINT)
       |    AS pruned
       |FROM prk""".stripMargin
  }

  /** Unrolled BPE merge-table twin (the graph_kcore unroll treatment):
    * words live as double-space-delimited symbol strings bounded by
    * single spaces (' a  b  c '), so a pair occurrence is the literal
    * ' l  r ' and DuckDB's replace() — left-to-right, non-overlapping —
    * applies the merge with exactly the driver loop's greedy semantics
    * ([[graft.operators.TextAnalysis.bpeMerges]]); symbol boundaries on
    * both sides of the pattern kill suffix false-matches ('xa  b' never
    * matches ' a  b '), and adjacent occurrences don't share pattern
    * characters, so 'a a a' merges to 'aa a' on both engines. The
    * measured unroll cost is LINEAR and trivial (0.08/0.11/0.16/0.21 s
    * at depth 8/16/24/32 on sf0.01, SCALE.md round-17) — which is why
    * r17 finishes the job: `bpe_merges` itself (the 50-round trained
    * table, "iterative merges aren't SQL-expressible" retired) now
    * carries the SAME oracle at depth 50, and the 16-round head row
    * stays as the cheap regression probe.
    * Each sp_i is referenced twice (next round's pair
    * count + apply), so they are AS MATERIALIZED — DuckDB would
    * otherwise inline the whole growing replace() chain per reference
    * and the unroll would go exponential in the optimizer. */
  private def bpeMergesSql(depth: Int): String = {
    def pairsCte(src: String, out: String) =
      s"""$out AS (
         |  SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, unnest(list_transform(generate_series(1, len(s) - 1),
         |      i -> {'l': s[i], 'r': s[i+1]})) AS u
         |    FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM $src))
         |  GROUP BY 1, 2)""".stripMargin
    def bestCte(src: String, out: String) =
      s"$out AS (SELECT l, r, cnt FROM $src ORDER BY cnt DESC, l, r LIMIT 1)"
    def applyCte(spSrc: String, bSrc: String, out: String) =
      s"""$out AS MATERIALIZED (
         |  SELECT replace(sp, ' ' || b.l || '  ' || b.r || ' ',
         |                 ' ' || b.l || b.r || ' ') AS sp, n
         |  FROM $spSrc, $bSrc b)""".stripMargin
    val rounds = (1 to depth).map { i =>
      val prevSp = s"sp${i - 1}"
      val apply =
        if (i < depth) ",\n" + applyCte(prevSp, s"b$i", s"sp$i") else ""
      s"""${pairsCte(prevSp, s"p$i")},
         |${bestCte(s"p$i", s"b$i")}$apply""".stripMargin
    }.mkString(",\n")
    val union = (1 to depth).map { i =>
      if (i == 1)
        s"""SELECT CAST(1 AS BIGINT) AS merge_rank, l AS "left", r AS "right",
           |  cnt AS pair_count FROM b1""".stripMargin
      else s"UNION ALL SELECT CAST($i AS BIGINT), l, r, cnt FROM b$i"
    }.mkString("\n")
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       |wc AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks
       |  WHERE length(w) > 0 GROUP BY w
       |  ORDER BY n DESC, w ASC LIMIT 50000),
       |sp0 AS MATERIALIZED (
       |  SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '
       |    AS sp, n
       |  FROM wc),
       |$rounds
       |$union""".stripMargin
  }

  /** IVF(fixed literal codebook) + SQ8, composed: cells/probes replay as
    * in [[knnIvfFixedSql]] (exact integer dots), candidate scoring as in
    * the `knn_int8_rerank` twin (round(x·127/maxabs) codes, integer-ratio
    * cosine — same IEEE divide/sqrt both engines), re-rank as in the
    * `knn_brute` twin (fp32 cosine, ties by neighbor). */
  private lazy val knnIvfSq8FixedSql: String = {
    val cents = graft.operators.Similarity.fixedCodebook(4, 64)
    def dot(a: String, lits: Seq[Long]): String =
      s"CAST(list_sum(list_transform(list_zip($a, " +
        lits.mkString("[", ",", "]") + "), z -> z[1]*z[2])) AS BIGINT)"
    val scores = cents.zipWithIndex
      .map { case (c, j) => s"${dot("q", c)} AS s$j" }.mkString(",\n  ")
    val probeUnion = cents.indices
      .map(j => s"SELECT vec_id, $j AS cell, s$j AS cs " +
        "FROM scored WHERE vec_id < 20")
      .mkString("\n      UNION ALL ")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q,
       |    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v,
       |    list_max(list_transform(embedding,
       |      e -> abs(CAST(e AS DOUBLE)))) AS m
       |  FROM embeddings),
       |codes AS (
       |  SELECT vec_id, embedding, q, v,
       |    CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |         ELSE list_transform(v,
       |           x -> CAST(round(x * 127 / m) AS BIGINT)) END AS c8
       |  FROM base),
       |scored AS (SELECT vec_id, q,
       |  $scores
       |  FROM codes),
       |cells AS (SELECT vec_id,
       |  CASE WHEN s0>=s1 AND s0>=s2 AND s0>=s3 THEN 0
       |       WHEN s1>=s2 AND s1>=s3 THEN 1
       |       WHEN s2>=s3 THEN 2 ELSE 3 END AS cell
       |  FROM scored),
       |corpus AS (
       |  SELECT c.vec_id, c.v, c.c8, cl.cell
       |  FROM codes c JOIN cells cl USING (vec_id)
       |  WHERE len(list_filter(c.embedding, x -> x <> 0)) > 0),
       |qprobe AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS pr
       |    FROM (
       |      $probeUnion))
       |  WHERE pr <= 2),
       |qside AS (
       |  SELECT vec_id AS query_id, v AS qv, c8 AS q8 FROM codes
       |  WHERE vec_id < 20),
       |pairs AS (
       |  SELECT p.query_id, s.qv, c.vec_id AS neighbor_id, c.v AS cv,
       |    list_sum(list_transform(list_zip(s.q8, c.c8),
       |      z -> z[1]*z[2])) AS dot,
       |    list_sum(list_transform(s.q8, x -> x*x)) AS na,
       |    list_sum(list_transform(c.c8, x -> x*x)) AS nb
       |  FROM qprobe p JOIN qside s USING (query_id)
       |       JOIN corpus c USING (cell)
       |  WHERE c.vec_id <> p.query_id),
       |approx AS (
       |  SELECT query_id, neighbor_id, qv, cv,
       |    CASE WHEN na = 0 OR nb = 0 THEN 0.0
       |         ELSE CAST(dot AS DOUBLE) /
       |           sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS ic
       |  FROM pairs),
       |cand AS (
       |  SELECT query_id, neighbor_id, qv, cv FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY ic DESC, neighbor_id) AS cr
       |    FROM approx) WHERE cr <= 25),
       |ranked AS (
       |  SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id
       |    ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
       |  FROM cand)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  // Seq, not Map — duplicates fail loudly (see SparkEntry.queryList)
  private lazy val sqlList: Seq[(String, String)] = Seq(
    "s7_scan_pushdown" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'A'""".stripMargin,

    "s11_lineage" ->
      "SELECT doc_id, 'documents' AS source_stem FROM documents",

    "p_null_gate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL
        |  AND trim(o_orderstatus) <> ''""".stripMargin,

    "a1_group_count" ->
      "SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1",

    "a2_vote_count" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_votes
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "a3_grouped_mode" ->
      """WITH votes AS (
        |  SELECT source, lang, count(*) AS frequency
        |  FROM documents GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY frequency DESC, lang) AS rn FROM votes)
        |SELECT source, lang, frequency FROM ranked WHERE rn = 1""".stripMargin,

    "a4_scalar_count" -> "SELECT count(*) AS n_rows FROM lineitem",

    "a5_running_total" ->
      """SELECT event_id, event_type,
        |  count(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
        |FROM events""".stripMargin,

    "q1_pricing_decimal" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base,
        |  sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4))) AS sum_disc_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "dq_lineitem_report" -> {
      def row(rule: String, cond: String) =
        s"""SELECT '$rule' AS rule,
           |  CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violations,
           |  count(*) AS n_rows FROM lineitem""".stripMargin
      Seq(
        row("complete(l_orderkey)",
          "l_orderkey IS NULL OR trim(CAST(l_orderkey AS VARCHAR)) = ''"),
        row("complete(l_returnflag)",
          "l_returnflag IS NULL OR trim(l_returnflag) = ''"),
        row("in_range(l_quantity,1.0,50.0)",
          "l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50"),
        row("in_range(l_discount,0.0,0.1)",
          "l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1"),
        row("price_positive", "NOT coalesce(l_extendedprice > 0, false)"),
        row("flag_domain",
          "NOT coalesce(l_returnflag IN ('A','N','R'), false)")
      ).mkString("\nUNION ALL\n")
    },

    // drift twin: per-column aggregates per side, joined; same ppm
    // cross-multiplication and >10% distinct-change verdicts
    "dq_drift_report" -> {
      def side(pred: String, sfx: String) = Seq("lang", "source", "n_chars")
        .map(c =>
          s"""SELECT '$c' AS "column", count(*) AS n_$sfx,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null_$sfx,
             |  count(DISTINCT $c) AS n_distinct_$sfx
             |FROM documents WHERE $pred""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH sa AS (
         |${side("doc_id % 2 = 0", "a")}
         |), sb AS (
         |${side("doc_id % 2 = 1", "b")}
         |)
         |SELECT sa."column", n_a, n_null_a, n_distinct_a,
         |  n_b, n_null_b, n_distinct_b,
         |  CAST(CASE WHEN abs(n_null_a * n_b - n_null_b * n_a) * 100 >
         |    n_a * n_b * 10 THEN 1 ELSE 0 END AS BIGINT) AS null_drift,
         |  CAST(CASE WHEN n_distinct_a * 100 > n_distinct_b * 110
         |    OR n_distinct_b * 100 > n_distinct_a * 110
         |    THEN 1 ELSE 0 END AS BIGINT) AS distinct_drift
         |FROM sa JOIN sb USING ("column")""".stripMargin
    },

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_base_cents,
        |  count(*) AS n_rows,
        |  sum(l_quantity) / count(*) AS avg_qty
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    // decimal-money twin: Spark's DecimalType arithmetic replayed on
    // exact integers — inputs quantize to e4 via the (safe on 2-decimal
    // data) double->decimal cast, each product is exact in e8 units, and
    // the per-line round-to-money-scale is Spark's HALF_UP cast =
    // (p8+5000)//10000 on non-negative integers. The float shadow uses
    // floor(x*1e4+0.5) — same IEEE ops both engines, no shortest-repr
    // round() trap.
    "q1_pricing_decimal_ledger" ->
      """WITH m AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |      AS price_e4,
        |    CAST(CAST(l_discount AS DECIMAL(5,4)) * 10000 AS BIGINT)
        |      AS disc_e4,
        |    CAST(CAST(l_tax AS DECIMAL(5,4)) * 10000 AS BIGINT) AS tax_e4,
        |    floor((l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))
        |      * 10000 + 0.5) AS charge_f_e4
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, l_linestatus, price_e4, charge_f_e4,
        |    (price_e4 * (10000 - disc_e4) + 5000) // 10000 AS dp_e4,
        |    tax_e4
        |  FROM m),
        |c AS (
        |  SELECT l_returnflag, l_linestatus, price_e4, dp_e4, charge_f_e4,
        |    (dp_e4 * (10000 + tax_e4) + 5000) // 10000 AS ch_e4
        |  FROM r)
        |SELECT l_returnflag, l_linestatus,
        |  CAST(sum(price_e4) AS BIGINT) AS sum_base_e4,
        |  CAST(sum(dp_e4) AS BIGINT) AS sum_disc_e4,
        |  CAST(sum(ch_e4) AS BIGINT) AS sum_charge_e4,
        |  CAST(sum(CAST(charge_f_e4 AS BIGINT)) AS BIGINT)
        |    AS sum_charge_float_e4,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(charge_f_e4 AS BIGINT)) - sum(ch_e4) AS BIGINT)
        |    AS float_drift_e4
        |FROM c GROUP BY 1, 2""".stripMargin,

    "a_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT (l_suppkey, l_partkey)) AS n_sp_pairs
        |FROM lineitem GROUP BY 1""".stripMargin,

    "a_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_base_cents
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "a_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_base_cents
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "w_ntile_quartiles" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank
        |FROM lineitem
        |WHERE l_quantity >= 45
        |WINDOW w AS (PARTITION BY l_returnflag
        |  ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC)""".stripMargin,

    "a_duty_amount" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(floor(l_extendedprice * l_tax * 100) AS BIGINT))
        |    AS BIGINT) AS duty_cents,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY 1""".stripMargin,

    "w_lag_lead" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  lag(l_extendedprice, 1) OVER w AS prev_price,
        |  lead(l_extendedprice, 1) OVER w AS next_price
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber, l_partkey, l_suppkey)""".stripMargin,

    "j1j2_count_match" ->
      """WITH ca AS (SELECT l_orderkey, count(*) AS c FROM lineitem
        |            WHERE l_linestatus = 'F' GROUP BY 1),
        |     cb AS (SELECT l_orderkey, count(*) AS c FROM lineitem
        |            WHERE l_returnflag = 'A' GROUP BY 1)
        |SELECT ca.l_orderkey FROM ca JOIN cb USING (l_orderkey)
        |WHERE ca.c = cb.c""".stripMargin,

    "j3_semi_join" ->
      """WITH ca AS (SELECT l_orderkey, count(*) AS c FROM lineitem
        |            WHERE l_linestatus = 'F' GROUP BY 1),
        |     cb AS (SELECT l_orderkey, count(*) AS c FROM lineitem
        |            WHERE l_returnflag = 'A' GROUP BY 1),
        |     valid AS (SELECT ca.l_orderkey FROM ca JOIN cb USING (l_orderkey)
        |               WHERE ca.c = cb.c)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem
        |WHERE l_orderkey IN (SELECT l_orderkey FROM valid)""".stripMargin,

    "j4_ordinal_align" ->
      """WITH a AS (
        |  SELECT l_orderkey, l_quantity AS qty_a, l_extendedprice AS price_a,
        |         row_number() OVER (PARTITION BY l_orderkey
        |           ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM lineitem WHERE l_linestatus = 'F'
        |), b AS (
        |  SELECT l_orderkey, l_quantity AS qty_b, l_extendedprice AS price_b,
        |         row_number() OVER (PARTITION BY l_orderkey
        |           ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM lineitem WHERE l_returnflag = 'A'
        |), ca AS (SELECT l_orderkey, count(*) AS c FROM a GROUP BY 1),
        |cb AS (SELECT l_orderkey, count(*) AS c FROM b GROUP BY 1),
        |valid AS (SELECT ca.l_orderkey FROM ca JOIN cb USING (l_orderkey)
        |          WHERE ca.c = cb.c)
        |SELECT a.l_orderkey, a.qty_a, a.price_a, b.qty_b, b.price_b
        |FROM a JOIN valid USING (l_orderkey)
        |       JOIN b ON a.l_orderkey = b.l_orderkey AND a.rn = b.rn""".stripMargin,

    "j_anti_orphans" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,

    // nearest as-of replayed candidate-wise: best-backward + best-forward
    // per click, then the same tie-backward microsecond pick
    "j_asof_nearest" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts AS p_ts,
        |    CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
        |      AS p_value_micros
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), b AS (
        |  SELECT c.event_id, max(p.p_ts) AS bt
        |  FROM c JOIN p ON c.user_id = p.user_id AND p.p_ts <= c.ts
        |  GROUP BY 1
        |), f AS (
        |  SELECT c.event_id, min(p.p_ts) AS ft
        |  FROM c JOIN p ON c.user_id = p.user_id AND p.p_ts >= c.ts
        |  GROUP BY 1
        |), pick AS (
        |  SELECT c.event_id, c.user_id, c.ts, b.bt, f.ft,
        |    CASE WHEN b.bt IS NOT NULL AND (f.ft IS NULL OR
        |        epoch_us(c.ts) - epoch_us(b.bt)
        |          <= epoch_us(f.ft) - epoch_us(c.ts)) THEN 'b'
        |      WHEN f.ft IS NOT NULL THEN 'f' END AS dir
        |  FROM c LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)
        |)
        |SELECT pk.event_id, pk.user_id,
        |  strftime(CASE WHEN dir = 'b' THEN bt ELSE ft END,
        |    '%Y-%m-%d %H:%M:%S.%f') AS p_time,
        |  p.p_value_micros, dir AS asof_direction,
        |  CAST(CASE WHEN dir = 'b' THEN epoch_us(pk.ts) - epoch_us(bt)
        |    WHEN dir = 'f' THEN epoch_us(ft) - epoch_us(pk.ts) END
        |    AS BIGINT) AS asof_gap_micros
        |FROM pick pk LEFT JOIN p ON pk.user_id = p.user_id
        |  AND p.p_ts = CASE WHEN dir = 'b' THEN bt ELSE ft END""".stripMargin,

    "j_asof_backward" ->
      """SELECT a.event_id, a.user_id,
        |  strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
        |  CAST(floor(b.value * 1000000) AS BIGINT) AS purchase_value_micros
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') a
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |                WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id AND a.ts >= b.ts""".stripMargin,

    "j_range_interval" ->
      """SELECT a.event_id, a.user_id, b.event_id AS purchase_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') a
        |JOIN (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        | AND a.ts BETWEEN b.ts - INTERVAL 300 SECOND
        |               AND b.ts + INTERVAL 300 SECOND""".stripMargin,

    // overlap self-join twin: timestamp comparisons are equivalent to
    // the engine's exact epoch-second comparisons (inclusive both sides)
    "j_interval_overlap" ->
      """SELECT a.o_custkey AS o_custkey,
        |       CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        | AND a.o_orderdate <= b.o_orderdate + INTERVAL 30 DAY
        | AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1""".stripMargin,

    "j_outer_counts" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_items
        |FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // floor(l_quantity) sums are integer-valued doubles in DuckDB (exact
    // under reordering), cast back to BIGINT to match Spark's long sum
    "j_full_outer" ->
      """SELECT coalesce(o.o_orderkey, l.l_orderkey) AS okey,
        |  max(o.o_custkey) AS custkey,
        |  count(l.l_quantity) AS n_big_items,
        |  CAST(sum(floor(l.l_quantity)) AS BIGINT) AS qty_units
        |FROM (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderstatus = 'O') o
        |FULL OUTER JOIN (SELECT l_orderkey, l_quantity FROM lineitem
        |      WHERE l_quantity > 45) l
        |  ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1""".stripMargin,

    "j_right_outer" ->
      """SELECT o_orderkey, count(l.l_orderkey) AS n_heavy_items
        |FROM (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45) l
        |RIGHT JOIN orders ON l.l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "set_except" ->
      """SELECT DISTINCT l_orderkey AS okey FROM lineitem
        |EXCEPT
        |SELECT DISTINCT o_orderkey AS okey FROM orders
        |WHERE o_orderstatus = 'O'""".stripMargin,

    "e3_knowledge_base" -> e3Sql,

    "tpch_q2_min_cost_supplier" ->
      """WITH cost AS (
        |  SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
        |    min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS cost_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |  GROUP BY 1, 2, 3, 4, 5
        |), m AS (
        |  SELECT *, min(cost_cents) OVER (PARTITION BY l_partkey) AS mn
        |  FROM cost)
        |SELECT CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS acctbal_cents,
        |  s_name, n_name, p_partkey, p_brand, cost_cents
        |FROM m JOIN part ON l_partkey = p_partkey
        |WHERE cost_cents = mn AND p_size = 15 AND p_type = 'STANDARD'""".stripMargin,

    "tpch_q11_important_value" ->
      """WITH held AS (
        |  SELECT l_partkey,
        |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4)) * 10000
        |      AS BIGINT) AS v
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7'
        |), pp AS (
        |  SELECT l_partkey, CAST(sum(v) AS BIGINT) AS value_e4
        |  FROM held GROUP BY 1)
        |SELECT l_partkey, value_e4 FROM pp
        |WHERE value_e4 * 1000 > (SELECT CAST(sum(value_e4) AS BIGINT) FROM pp)"""
        .stripMargin,

    "tpch_q3_shipping_priority" -> {
      val rev = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
        "AS DECIMAL(28,4))"
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         |  o_orderpriority, sum($rev) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
    },

    "tpch_q5_nation_revenue" -> {
      val rev = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
        "AS DECIMAL(28,4))"
      s"""SELECT n_name, sum($rev) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY 1""".stripMargin
    },

    "tpch_q7_volume" -> {
      val rev = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
        "AS DECIMAL(28,4))"
      s"""WITH flows AS (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(year(l_shipdate) AS BIGINT) AS l_year, $rev AS rev
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |    AND year(l_shipdate) BETWEEN 1996 AND 1997)
         |SELECT supp_nation, cust_nation, l_year, sum(rev) AS revenue
         |FROM flows GROUP BY 1, 2, 3""".stripMargin
    },

    "tpch_q6_forecast" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE year(l_shipdate) = 1996
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,

    // bloom twin: the Bloom pass is invisible to the result (no false
    // negatives; the join removes false positives), so the oracle is the
    // plain filtered join
    "j_bloom_filtered" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 350000
        |GROUP BY 1""".stripMargin,

    "tpch_q13_custdist" ->
      """WITH pc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist FROM pc GROUP BY 1""".stripMargin,

    "tpch_q14_promo" -> {
      val rev = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
        "AS DECIMAL(28,4))"
      s"""SELECT sum(CASE WHEN p_type = 'PROMO' THEN $rev END)
         |    AS promo_revenue,
         |  sum($rev) AS total_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
         |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin
    },

    "tpch_q10_returned_items" -> {
      val rev = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
        "AS DECIMAL(28,4))"
      s"""SELECT c_custkey, c_name, n_name, sum($rev) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
    },

    "tpch_q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) b
        |  ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "tpch_q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,

    "tpch_q8_market_share" -> {
      val revE4 = "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
        "AS DECIMAL(18,4)) * 10000 AS BIGINT)"
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(sum(CASE WHEN n1.n_name = 'NATION_3' THEN $revE4
         |           ELSE 0 END) AS BIGINT) AS nation_rev_e4,
         |  CAST(sum($revE4) AS BIGINT) AS total_rev_e4
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |JOIN region ON n2.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |WHERE r_name = 'ASIA'
         |GROUP BY 1""".stripMargin
    },

    "tpch_q9_profit_proxy" -> {
      val rev = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
        "AS DECIMAL(28,4))"
      val cost = "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * " +
        "CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))"
      s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(sum(CAST(CAST($rev - $cost AS DECIMAL(18,4)) * 10000
         |       AS BIGINT)) AS BIGINT) AS profit_proxy_e4
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY 1, 2""".stripMargin
    },

    "tpch_q12_late_lines" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE date_diff('day', CAST(o_orderdate AS DATE),
        |                CAST(l_shipdate AS DATE)) > 60
        |GROUP BY 1""".stripMargin,

    "tpch_q15_top_supplier" -> {
      val rev = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
        "AS DECIMAL(28,4))"
      s"""WITH r AS (
         |  SELECT l_suppkey, sum($rev) AS total_revenue
         |  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM r JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM r)""".stripMargin
    },

    "tpch_q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < -900)
        |GROUP BY 1, 2, 3""".stripMargin,

    "tpch_q17_small_qty" ->
      """WITH per AS (
        |  SELECT l_partkey AS agg_pk,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
        |    count(*) AS cnt_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN per ON l_partkey = agg_pk
        |WHERE p_brand = 'Brand#2'
        |  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt_qty < sum_qty""".stripMargin,

    "tpch_q19_disjunctive" ->
      """SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "tpch_q20_semi_chain" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |  GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)""".stripMargin,

    "tpch_q21_waiting" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,

    "tpch_q22_idle_customers" ->
      """WITH pos AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal,
        |    count(*) AS cnt_bal
        |  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0)
        |SELECT c_mktsegment, count(*) AS n_custs,
        |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS total_bal_cents
        |FROM customer, pos
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt_bal > sum_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,

    "w1_item_seq" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey) AS item_seq
        |FROM lineitem""".stripMargin,

    "w2_cumcount" ->
      """SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        |FROM events""".stripMargin,

    "w3_ffill" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  last_value(CASE WHEN l_returnflag = 'N' THEN NULL
        |                  ELSE l_extendedprice END IGNORE NULLS)
        |    OVER (PARTITION BY l_orderkey
        |          ORDER BY l_linenumber, l_partkey, l_suppkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_price
        |FROM lineitem""".stripMargin,

    "o1_topk_sort" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    // global-seq twin: unique order key -> the distributed two-pass
    // assignment equals the single total-order ranking
    "o_global_seq" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS seq
        |FROM documents""".stripMargin,

    "o_skyline" ->
      """WITH pts AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
        |         COUNT(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT s.o_custkey, s.spend_cents, s.n_orders
        |FROM pts s
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts o
        |  WHERE o.spend_cents >= s.spend_cents AND o.n_orders >= s.n_orders
        |    AND (o.spend_cents > s.spend_cents OR o.n_orders > s.n_orders))""".stripMargin,

    "o3_limit_probe" ->
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 1",

    "o4_union_all" ->
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "set_intersect" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT DISTINCT c_custkey AS custkey FROM customer""".stripMargin,

    // bag-semantics twins spelled as explicit multiplicity arithmetic
    // (min / saturating difference of per-key counts) — an independent
    // derivation of what intersectAll/exceptAll must compute
    "set_intersect_all" ->
      """WITH a AS (SELECT o_custkey AS custkey, count(*) AS ca
        |           FROM orders WHERE o_orderstatus <> 'F' GROUP BY 1),
        |     b AS (SELECT o_custkey AS custkey, count(*) AS cb
        |           FROM orders WHERE o_totalprice > 100000 GROUP BY 1)
        |SELECT a.custkey AS custkey, CAST(least(ca, cb) AS BIGINT) AS n_kept
        |FROM a JOIN b USING (custkey)""".stripMargin,

    "set_except_all" ->
      """WITH a AS (SELECT o_custkey AS custkey, count(*) AS ca
        |           FROM orders WHERE o_orderstatus <> 'F' GROUP BY 1),
        |     b AS (SELECT o_custkey AS custkey, count(*) AS cb
        |           FROM orders WHERE o_totalprice > 100000 GROUP BY 1)
        |SELECT a.custkey AS custkey,
        |       CAST(ca - coalesce(cb, 0) AS BIGINT) AS n_left
        |FROM a LEFT JOIN b USING (custkey)
        |WHERE ca > coalesce(cb, 0)""".stripMargin,

    // misc aggregate surface: FILTER'd count, bool aggs, any_value over a
    // group-constant column, min_by/max_by on the packed total order
    "a_misc_aggs" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
        |    AS n_big,
        |  bool_and(o_totalprice > 850) AS all_nontrivial,
        |  bool_or(o_orderstatus = 'P') AS any_pending,
        |  any_value(o_orderpriority) AS prio_again,
        |  min_by(o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT)
        |    * 10000000 + o_orderkey) AS cheapest_key,
        |  max_by(o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT)
        |    * 10000000 + o_orderkey) AS priciest_key
        |FROM orders GROUP BY 1""".stripMargin,

    "f_clean_keys" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  regexp_replace('BY/  /' || CAST(l_orderkey AS VARCHAR) || ' /'
         |    || CAST(l_partkey AS VARCHAR), '[ \\n/]', '', 'g') AS doc_no,
         |  upper(regexp_replace('mw-' || CAST(l_orderkey AS VARCHAR) || ' /x',
         |    '[\\s/-]', '', 'g')) AS waybill,
         |  ${linkKeySql("'M' || CAST(l_orderkey AS VARCHAR)",
             "'h/' || CAST(l_suppkey AS VARCHAR)")} AS link_key,
         |  'TWD' AS currency, 'PENDING' AS processing_status
         |FROM lineitem""".stripMargin,

    "f_normalize_text" ->
      s"SELECT doc_id, ${normSql("text")} AS norm_text FROM documents",

    "f_iso_date" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  split_part(strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S+08:00'), 'T', 1)
        |    AS ship_date
        |FROM lineitem""".stripMargin,

    // list-function twins of Spark's higher-order array lambdas
    "f_array_ops" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(x * 1000) AS BIGINT)) AS q
        |  FROM embeddings
        |)
        |SELECT vec_id,
        |  CAST(list_aggregate(list_transform(q[1:8], x -> x * x), 'sum')
        |    AS BIGINT) AS sumsq8,
        |  CAST(len(list_filter(q, x -> x > 0)) AS BIGINT) AS n_pos,
        |  CAST(list_aggregate(q, 'max') AS BIGINT) AS max_q,
        |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS sum_q
        |FROM q""".stripMargin,

    "f_num_coerce_json" ->
      """SELECT event_id,
        |  coalesce(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.0)
        |    AS k_value,
        |  coalesce(TRY_CAST(event_type AS DOUBLE), 0.0) AS not_a_number
        |FROM events""".stripMargin,

    "f_unit_price" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CASE WHEN l_quantity > 0
        |       THEN CAST(floor(l_extendedprice / l_quantity * 10000) AS BIGINT)
        |       ELSE 0 END AS unit_price_e4
        |FROM lineitem""".stripMargin,

    "f_validate" ->
      """SELECT c_custkey, trim(c_name) AS name_trim,
        |  regexp_matches(c_name, '^[A-Za-z0-9]+$') AS name_alnum,
        |  (c_mktsegment IS NOT NULL AND
        |   NOT lower(trim(c_mktsegment)) IN ('nan', 'none', '')) AS seg_real
        |FROM customer""".stripMargin,

    // audio-fingerprint twin: the landmark table replayed end to end —
    // tone-sequence fixtures regenerate from doc_id via the 160-entry
    // table, per-frame peak bands come from the same 16-band integer DFT
    // (64-entry table), landmarks are the (peak, peak, gap) fanout pairs
    "mm_audio_fingerprint" ->
      (audioLandmarkCtes(withProbes = false) +
        """
          |SELECT aid AS asset_id, TRUE AS ok,
          |  CAST(hash AS BIGINT) AS hash, CAST(t AS BIGINT) AS t
          |FROM lm""".stripMargin),

    // audio-match twin: probe landmarks (clip segments 2..5, id+100)
    // equi-join the reference landmark table on hash, votes count per
    // (probe, ref, offset), each probe keeps its best alignment with the
    // Spark tie order (votes desc, ref asc, offset asc)
    "mm_audio_match" ->
      (audioLandmarkCtes(withProbes = true) +
        """,
          |votes AS (
          |  SELECT p.aid AS probe_id, r.aid AS ref_id,
          |    r.t - p.t AS off, count(*) AS votes
          |  FROM lm p JOIN lm r ON p.hash = r.hash
          |  WHERE p.aid >= 100 AND r.aid < 100
          |  GROUP BY 1, 2, 3),
          |best AS (
          |  SELECT probe_id, ref_id, off, votes, row_number() OVER (
          |    PARTITION BY probe_id
          |    ORDER BY votes DESC, ref_id ASC, off ASC) AS rk
          |  FROM votes)
          |SELECT probe_id, ref_id, CAST(off AS BIGINT) AS "offset",
          |  CAST(votes AS BIGINT) AS votes
          |FROM best WHERE rk = 1""".stripMargin),

    // audio-segmentation twin: regenerate the tone/silence fixtures from
    // doc_id (freq 0 -> step 0 -> tab(0)=0 -> floor(1000/2000)=0: true
    // digital silence, no special case needed), frame into 256-sample
    // non-overlapping energies, flag silence by integer cross-multiply,
    // and collapse constant-state runs gaps-and-islands style — the
    // complete Spark chain in SQL
    "mm_audio_segments" ->
      s"""WITH assets AS (
        |  SELECT doc_id AS aid FROM documents WHERE doc_id < 8),
        |segs AS (
        |  SELECT aid, g.s AS seg,
        |    CASE WHEN (aid * 5 + g.s * 7) % 4 = 0 THEN 0
        |    ELSE 6 + ((aid * 7 + g.s * 3) % 12) * 5 END AS k
        |  FROM assets CROSS JOIN range(0, 8) g(s)),
        |samp AS (
        |  SELECT segs.aid, segs.seg * 1024 + r.i AS a,
        |    CAST(floor((2*12000*list_extract(${sinListSql(160)},
        |      CAST((segs.k * r.i) % 160 AS INT) + 1) + 1000) / 2000.0)
        |      AS BIGINT) AS v
        |  FROM segs CROSS JOIN range(0, 1024) r(i)),
        |fe AS (
        |  SELECT aid, a // 256 AS f, SUM(v*v) AS sq
        |  FROM samp GROUP BY aid, a // 256),
        |fl AS (
        |  SELECT aid, f, sq,
        |    sq * 1000000 < CAST(1000 AS BIGINT) * 256 * 1073741824 AS sil
        |  FROM fe),
        |runs AS (
        |  SELECT aid, sil, f, sq, f - row_number() OVER (
        |      PARTITION BY aid, sil ORDER BY f) AS run
        |  FROM fl),
        |gr AS (
        |  SELECT aid, sil, run, MIN(f) AS start_frame,
        |    MAX(f) AS end_frame, COUNT(*) AS n_frames, SUM(sq) AS sq_sum
        |  FROM runs GROUP BY aid, sil, run)
        |SELECT aid AS asset_id,
        |  CAST(row_number() OVER (PARTITION BY aid ORDER BY start_frame)
        |    AS BIGINT) AS seg_no,
        |  sil AS is_silent, CAST(start_frame AS BIGINT) AS start_frame,
        |  CAST(end_frame AS BIGINT) AS end_frame,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(sq_sum AS BIGINT) AS sq_sum
        |FROM gr""".stripMargin,

    // audio-spectrum twin: a FULL replay of the exact-integer chain —
    // the WAV samples regenerate from doc_id via the inlined 32-entry
    // milli-quantized sine list (16-bit PCM round-trips losslessly, so
    // decode is the identity on sample values), the per-band power is
    // the same integer DFT (cos = sin shifted 8 entries), and shares/
    // ms_ppm use the same floor-division roundings. HUGEINT only in
    // intermediates (squares reach ~10²¹); every output is BIGINT.
    // All `//` numerators are nonnegative (DuckDB's // truncates, which
    // equals floor only for nonnegative operands); the one signed
    // rounding (sample amplitude) goes through floor() instead. The
    // sine lookups are list_extract on a constant list, NOT joins on a
    // VALUES CTE — DuckDB nested-loops the latter (see sinListSql).
    "mm_audio_spectrum" ->
      s"""WITH ids AS (
        |  SELECT doc_id AS id, doc_id % 8 AS m FROM documents
        |  WHERE doc_id < 16),
        |samp AS (
        |  SELECT ids.id, r.i,
        |    CAST(floor((2*12000*list_extract(${sinListSql(32)},
        |      CAST((r.i * (2*ids.m + 1)) % 32 AS INT) + 1)
        |      + 1000) / 2000.0) AS BIGINT) AS v
        |  FROM ids
        |  CROSS JOIN range(0, 2000) r(i)),
        |zcs AS (
        |  SELECT id, i, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS pv
        |  FROM samp),
        |base AS (
        |  SELECT id, count(*) AS n, sum(v*v) AS sq,
        |    sum(CASE WHEN pv IS NOT NULL AND ((pv >= 0) != (v >= 0))
        |        THEN 1 ELSE 0 END) AS zc
        |  FROM zcs GROUP BY id),
        |terms AS (
        |  SELECT s.id, b.b, s.v,
        |    list_extract(${sinListSql(32)},
        |      CAST((s.i * (2*b.b + 1)) % 32 AS INT) + 1) AS sv,
        |    list_extract(${sinListSql(32)},
        |      CAST(((s.i * (2*b.b + 1)) + 8) % 32 AS INT) + 1) AS cv
        |  FROM samp s
        |  CROSS JOIN range(0, 8) b(b)),
        |pw AS (
        |  SELECT id, b,
        |    CAST(SUM(v*cv) AS HUGEINT)*CAST(SUM(v*cv) AS HUGEINT)
        |    + CAST(SUM(v*sv) AS HUGEINT)*CAST(SUM(v*sv) AS HUGEINT) AS p
        |  FROM terms GROUP BY id, b),
        |tot AS (SELECT id, SUM(p) AS tp FROM pw GROUP BY id),
        |sh AS (
        |  SELECT pw.id, pw.b,
        |    CAST((pw.p * 2000 + t.tp) // (t.tp * 2) AS BIGINT) AS share,
        |    row_number() OVER (PARTITION BY pw.id
        |      ORDER BY pw.p DESC, pw.b ASC) AS rk
        |  FROM pw JOIN tot t ON pw.id = t.id)
        |SELECT b0.id AS asset_id, TRUE AS ok,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(b0.n AS BIGINT) AS n_samples,
        |  CAST((CAST(b0.sq AS HUGEINT) * 1000000)
        |    // (b0.n * 1073741824) AS BIGINT) AS ms_ppm,
        |  CAST(b0.zc AS BIGINT) AS zero_crossings,
        |  CAST(max(CASE WHEN sh.rk = 1 THEN sh.b END) AS BIGINT)
        |    AS dominant_band,
        |  CAST(max(CASE WHEN sh.b = 0 THEN sh.share END) AS BIGINT)
        |    AS band0_milli,
        |  CAST(max(CASE WHEN sh.b = 1 THEN sh.share END) AS BIGINT)
        |    AS band1_milli,
        |  CAST(max(CASE WHEN sh.b = 2 THEN sh.share END) AS BIGINT)
        |    AS band2_milli,
        |  CAST(max(CASE WHEN sh.b = 3 THEN sh.share END) AS BIGINT)
        |    AS band3_milli,
        |  CAST(max(CASE WHEN sh.b = 4 THEN sh.share END) AS BIGINT)
        |    AS band4_milli,
        |  CAST(max(CASE WHEN sh.b = 5 THEN sh.share END) AS BIGINT)
        |    AS band5_milli,
        |  CAST(max(CASE WHEN sh.b = 6 THEN sh.share END) AS BIGINT)
        |    AS band6_milli,
        |  CAST(max(CASE WHEN sh.b = 7 THEN sh.share END) AS BIGINT)
        |    AS band7_milli
        |FROM base b0 JOIN sh ON sh.id = b0.id
        |GROUP BY b0.id, b0.n, b0.sq, b0.zc""".stripMargin,

    // pHash near-dup twin: the full hash table replayed via [[phashCtes]]
    // (the texture fixtures, the DCT, the median threshold — everything),
    // then the BRUTE-FORCE hamming-<=8 pair relation: the engine's
    // pigeonhole blocking is pinned blocked==brute in MultimodalSpec, so
    // the brute relation IS the answer
    "mm_phash_neardup" ->
      (phashCtes +
        """
          |SELECT a.id AS id_a, b.id AS id_b,
          |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
          |FROM ph a JOIN ph b ON a.id < b.id
          |WHERE bit_count(xor(a.phash, b.phash)) <= 8""".stripMargin),

    // pHash clusters twin: same hash-table replay, brute pair relation
    // (MATERIALIZED — the recursive closure below must not re-derive
    // it per iteration), then connected components as a min-label
    // transitive closure (UNION-fixpoint recursive CTE; components are
    // 4-cliques, so the closure converges in 2 rounds)
    "mm_phash_clusters" ->
      (phashCtes +
        """,
          |pairs AS MATERIALIZED (
          |  SELECT a.id AS id_a, b.id AS id_b
          |  FROM ph a JOIN ph b ON a.id < b.id
          |  WHERE bit_count(xor(a.phash, b.phash)) <= 8),
          |edges AS (
          |  SELECT id_a AS u, id_b AS v FROM pairs
          |  UNION SELECT id_b, id_a FROM pairs),
          |reach AS (
          |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
          |  UNION
          |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v),
          |comp AS (SELECT u AS doc, min(r) AS cluster FROM reach
          |         GROUP BY 1)
          |SELECT CAST(cluster AS BIGINT) AS cluster,
          |  CAST(count(*) AS BIGINT) AS n_members,
          |  CAST(max(doc) AS BIGINT) AS max_member
          |FROM comp GROUP BY 1""".stripMargin),

    // multimodal-capstone twin: the WHOLE chain replayed — the pHash
    // table + brute pairs + min-label closure (image dedup to cluster
    // representatives, singletons their own rep), the audio fixture +
    // frame-energy + silence-flag chain (VAD voiced-share >= 1/2 gate),
    // and the per-source rollups full-outer-joined
    "pipeline_multimodal" ->
      (phashCtes +
        s""",
          |pairs AS MATERIALIZED (
          |  SELECT a.id AS id_a, b.id AS id_b
          |  FROM ph a JOIN ph b ON a.id < b.id
          |  WHERE bit_count(xor(a.phash, b.phash)) <= 8),
          |edges AS (
          |  SELECT id_a AS u, id_b AS v FROM pairs
          |  UNION SELECT id_b, id_a FROM pairs),
          |reach AS (
          |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
          |  UNION
          |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v),
          |comp AS (SELECT u AS doc, min(r) AS cluster FROM reach
          |         GROUP BY 1),
          |imgrep AS (
          |  SELECT p.id, coalesce(c.cluster, p.id) AS rep
          |  FROM ph p LEFT JOIN comp c ON c.doc = p.id),
          |imgroll AS (
          |  SELECT CAST(id % 4 AS BIGINT) AS source,
          |    CAST(count(*) AS BIGINT) AS n_images,
          |    CAST(SUM(CASE WHEN id = rep THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_unique_images
          |  FROM imgrep GROUP BY 1),
          |aassets AS (
          |  SELECT doc_id AS aid FROM documents WHERE doc_id < 8),
          |asegs AS (
          |  SELECT aid, g.s AS seg,
          |    CASE WHEN (aid * 5 + g.s * 7) % 4 = 0 THEN 0
          |    ELSE 6 + ((aid * 7 + g.s * 3) % 12) * 5 END AS k
          |  FROM aassets CROSS JOIN range(0, 8) g(s)),
          |asamp AS (
          |  SELECT asegs.aid, asegs.seg * 1024 + r.i AS a,
          |    CAST(floor((2*12000*list_extract(${sinListSql(160)},
          |      CAST((asegs.k * r.i) % 160 AS INT) + 1) + 1000) / 2000.0)
          |      AS BIGINT) AS v
          |  FROM asegs CROSS JOIN range(0, 1024) r(i)),
          |afe AS (
          |  SELECT aid, a // 256 AS f, SUM(v*v) AS sq
          |  FROM asamp GROUP BY aid, a // 256),
          |aud AS (
          |  SELECT aid,
          |    SUM(CASE WHEN NOT (sq * 1000000 <
          |      CAST(1000 AS BIGINT) * 256 * 1073741824)
          |      THEN 1 ELSE 0 END) AS voiced,
          |    count(*) AS total
          |  FROM afe GROUP BY 1),
          |audroll AS (
          |  SELECT CAST(aid % 4 AS BIGINT) AS source,
          |    CAST(count(*) AS BIGINT) AS n_audio,
          |    CAST(SUM(CASE WHEN 2 * voiced >= total THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_audio_kept
          |  FROM aud GROUP BY 1)
          |SELECT source,
          |  CAST(coalesce(n_images, 0) AS BIGINT) AS n_images,
          |  CAST(coalesce(n_unique_images, 0) AS BIGINT)
          |    AS n_unique_images,
          |  CAST(coalesce(n_audio, 0) AS BIGINT) AS n_audio,
          |  CAST(coalesce(n_audio_kept, 0) AS BIGINT) AS n_audio_kept
          |FROM imgroll FULL OUTER JOIN audroll USING (source)""".stripMargin),

    // decode twin: text payloads take the deterministic stub path, whose
    // record is md5-derived end to end — checksum = md5 hex (DuckDB md5()
    // hashes the same UTF-8 bytes Spark's binary cast yields), pseudo-dims
    // = md5-prefix 28-bit ints (house hex-parse idiom), n_bytes = strlen
    // (DuckDB strlen counts BYTES; Spark length(binary) likewise); the
    // REAL image/audio decode branches are pinned on true fixtures in
    // MultimodalSpec
    "mm_decode" ->
      """SELECT doc_id AS asset_id,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  'unknown' AS format,
        |  CAST(64 + CAST(concat('0x', substr(md5(text), 1, 7)) AS BIGINT)
        |    % 1024 AS BIGINT) AS width,
        |  CAST(64 + CAST(concat('0x', substr(md5(text), 8, 7)) AS BIGINT)
        |    % 1024 AS BIGINT) AS height,
        |  CAST(0 AS BIGINT) AS sample_rate, CAST(0 AS BIGINT) AS channels,
        |  CAST(0 AS BIGINT) AS duration_ms,
        |  md5(text) AS checksum
        |FROM documents""".stripMargin,

    // video twin: the fixtures are LOSSLESS PNG frames (MPNG-in-AVI), so
    // the decoded raster equals the integer color formula and the whole
    // chain replays — 5 chunks, k = 3 sampled at frame_idx = i*5//3
    // (operands non-negative, // == Spark div), solid color r/g/b =
    // (doc_id*37+fi*11, *59+*23, *83+*43) % 256, per-pixel BT.601 luma
    // (299r+587g+114b)//1000, and the w*h mean of a constant raster is
    // lumaSum*1000/(w*h) = per-pixel luma * 1000 exactly
    "mm_video_frames" ->
      """SELECT d.doc_id AS asset_id, TRUE AS ok,
        |  CAST(5 AS BIGINT) AS n_frames,
        |  CAST(f.i AS BIGINT) AS frame_no,
        |  CAST((f.i * 5) // 3 AS BIGINT) AS frame_idx,
        |  CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |  CAST(((299 * ((d.doc_id * 37 + ((f.i * 5) // 3) * 11) % 256)
        |       + 587 * ((d.doc_id * 59 + ((f.i * 5) // 3) * 23) % 256)
        |       + 114 * ((d.doc_id * 83 + ((f.i * 5) // 3) * 43) % 256))
        |      // 1000) * 1000 AS BIGINT) AS mean_luma_milli
        |FROM documents d, range(0, 3) f(i)
        |WHERE d.doc_id < 8""".stripMargin,

    // pixel-features twin: the corpus payloads are text bytes, so the
    // contract is "no false decode" — every row must be the ok=false stub
    // (the true-decode path is pinned on generated PNGs in MultimodalSpec)
    "mm_pixel_features" ->
      """SELECT doc_id AS asset_id, FALSE AS ok,
        |  CAST(0 AS BIGINT) AS width, CAST(0 AS BIGINT) AS height,
        |  CAST(0 AS BIGINT) AS mean_r_milli, CAST(0 AS BIGINT) AS mean_g_milli,
        |  CAST(0 AS BIGINT) AS mean_b_milli
        |FROM documents""".stripMargin,

    // sliding twin: both 30-min-grid candidate starts per event (the
    // bucket itself and the one 30min earlier — always within 1h of ts)
    "events_sliding_window" ->
      """WITH w AS (
        |  SELECT event_type, value, ts,
        |    unnest([time_bucket(INTERVAL '30 minutes', ts),
        |            time_bucket(INTERVAL '30 minutes', ts)
        |              - INTERVAL '30 minutes']) AS win_start
        |  FROM events)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
        |    AS value_micros
        |FROM w
        |WHERE ts >= win_start AND ts < win_start + INTERVAL '1 hour'
        |GROUP BY 1, 2""".stripMargin,

    // seasonal means: all totals are nonnegative (value >= 0), so
    // DuckDB's flooring // equals Spark's truncating div
    "events_seasonal" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h,
        |    CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
        |      AS total_micros
        |  FROM events GROUP BY 1
        |), hh AS (
        |  SELECT h, CAST(date_part('hour', h) AS BIGINT) AS hod,
        |    total_micros
        |  FROM hourly
        |), seasonal AS (
        |  SELECT hod, CAST(sum(total_micros) // count(*) AS BIGINT)
        |    AS seasonal_micros
        |  FROM hh GROUP BY 1
        |)
        |SELECT strftime(hh.h, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  hh.hod, hh.total_micros, s.seasonal_micros,
        |  CAST(hh.total_micros - s.seasonal_micros AS BIGINT)
        |    AS residual_micros
        |FROM hh JOIN seasonal s USING (hod)""".stripMargin,

    "events_hourly_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
        |    AS value_micros
        |FROM events GROUP BY 1, 2""".stripMargin,

    // leaderboard twin: same grouped counts, same deterministic
    // (count desc, user_id) rank
    "events_top_users_hourly" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS h, user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT h, user_id, n_events,
        |    CAST(row_number() OVER (PARTITION BY h
        |      ORDER BY n_events DESC, user_id) AS BIGINT) AS rk
        |  FROM c)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  user_id, n_events, rk
        |FROM r WHERE rk <= 3""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS prev_ts
        |  FROM events
        |), f AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL OR
        |      CAST(floor(epoch(ts)) AS BIGINT)
        |        - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |), g AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM f)
        |SELECT user_id, session_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events
        |FROM g GROUP BY 1, 2""".stripMargin,

    "dedup_exact" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |         md5(${normSql("substring(text, 1, 40)")}) AS fp
         |  FROM documents)
         |SELECT fp, count(*) AS n_dups, min(doc_id) AS keeper_id
         |FROM f GROUP BY fp HAVING count(*) > 1""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $jaccardCtes
         |SELECT id_a, id_b, intersection, size_a, size_b
         |FROM pairs""".stripMargin,

    // md5-LSH pairs: banded candidates verified at exact Jaccard >= 0.8
    "dedup_minhash_md5_lsh" ->
      s"""WITH ${shingleCtesFrom("documents")},
         |$lshCandCtes,
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS i
         |  FROM cand c
         |    JOIN ex a ON a.doc_id = c.id_a
         |    JOIN ex b ON b.doc_id = c.id_b AND a.shingle = b.shingle
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(i AS BIGINT) AS intersection,
         |  CAST(sa.n + sb.n - i AS BIGINT) AS union_size
         |FROM inter JOIN sizes sa ON id_a = sa.doc_id
         |           JOIN sizes sb ON id_b = sb.doc_id
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8""".stripMargin,

    // LSH recall per Jaccard decile: exact 0.7-pairs left-joined to the
    // banded-candidate set (the confirm applies the same exact metric,
    // so found = candidate membership)
    "dedup_lsh_recall" ->
      s"""WITH ${shingleCtesFrom("documents")},
         |$lshCandCtes,
         |inter7 AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM ex a JOIN ex b USING (shingle)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |exact7 AS (
         |  SELECT id_a, id_b, CAST(i AS BIGINT) AS i,
         |    CAST(sa.n + sb.n - i AS BIGINT) AS u
         |  FROM inter7 JOIN sizes sa ON id_a = sa.doc_id
         |              JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7),
         |joined AS (
         |  SELECT least(9, (e.i * 10) // e.u) AS jacc_decile,
         |    CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS found
         |  FROM exact7 e LEFT JOIN cand c
         |    ON e.id_a = c.id_a AND e.id_b = c.id_b)
         |SELECT CAST(jacc_decile AS BIGINT) AS jacc_decile,
         |  count(*) AS n_exact, CAST(sum(found) AS BIGINT) AS n_found,
         |  CAST(sum(found)::HUGEINT * 1000000 // count(*) AS BIGINT)
         |    AS recall_ppm
         |FROM joined GROUP BY 1""".stripMargin,

    // containment twin: same shingle algebra, DIRECTIONAL pairs, the
    // threshold spelled as the same ceil(t*|A|) overlap bound
    "dedup_containment" ->
      s"""WITH ${shingleCtesFrom("documents")},
         |inter AS (
         |  SELECT a.doc_id AS ca, b.doc_id AS cb, count(*) AS i
         |  FROM ex a JOIN ex b USING (shingle)
         |  WHERE a.doc_id != b.doc_id GROUP BY 1, 2)
         |SELECT ca AS contained_id, cb AS container_id,
         |  CAST(i AS BIGINT) AS intersection,
         |  sa.n AS size_a, sb.n AS size_b,
         |  CAST(i * 1000000 // sa.n AS BIGINT) AS containment_ppm
         |FROM inter JOIN sizes sa ON ca = sa.doc_id
         |           JOIN sizes sb ON cb = sb.doc_id
         |WHERE i >= ceil(0.8 * sa.n)""".stripMargin,

    // sorted-neighborhood replay: identical blocking-key total order
    // (substr of normalized text, doc_id tiebreak), rank distance 1..5
    // via a row_number self-join, same shingle algebra as the jaccard
    // family; zero-intersection candidates drop from both sides
    "dedup_sorted_neighborhood" ->
      s"""WITH ${shingleCtesFrom("documents")},
         |seq AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY substr(lower(trim(text)), 1, 12), doc_id) AS rn
         |  FROM documents
         |), cand AS (
         |  SELECT least(a.doc_id, b.doc_id) AS id_a,
         |         greatest(a.doc_id, b.doc_id) AS id_b
         |  FROM seq a JOIN seq b ON b.rn > a.rn AND b.rn <= a.rn + 5
         |), inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS intersection
         |  FROM cand c
         |  JOIN ex ea ON ea.doc_id = c.id_a
         |  JOIN ex eb ON eb.doc_id = c.id_b AND eb.shingle = ea.shingle
         |  GROUP BY 1, 2
         |)
         |SELECT i.id_a, i.id_b,
         |  CAST(i.intersection AS BIGINT) AS intersection,
         |  sa.n AS size_a, sb.n AS size_b
         |FROM inter i JOIN sizes sa ON i.id_a = sa.doc_id
         |             JOIN sizes sb ON i.id_b = sb.doc_id
         |WHERE CAST(i.intersection AS DOUBLE)
         |      / (sa.n + sb.n - i.intersection) >= 0.8""".stripMargin,

    // transitive closure of the same pair list: recursive reachability
    // (anchor = edges both ways + identity), cluster = min reachable id —
    // the SQL twin of the engine's hash-min label propagation
    "dedup_clusters" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM pairs
         |), reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |)
         |SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1""".stripMargin,

    // incremental twin: brute-force cross-side shared-gram intersection
    // (new = doc_id%10 >= 8, ref = < 8), exact jaccard, verdict per new
    // doc — zero-match and too-short docs report 0/kept
    "dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(t) - 1),
        |    i -> t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 2
        |), ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS nid, b.doc_id AS rid, count(*) AS i
        |  FROM ex a JOIN ex b USING (shingle)
        |  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT nid, count(*) AS n_matches
        |  FROM inter JOIN sizes sa ON nid = sa.doc_id
        |             JOIN sizes sb ON rid = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
        |  GROUP BY 1)
        |SELECT d.doc_id AS new_id,
        |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
        |  CAST(CASE WHEN coalesce(m.n_matches, 0) > 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS dropped
        |FROM documents d LEFT JOIN m ON d.doc_id = m.nid
        |WHERE d.doc_id % 10 >= 8""".stripMargin,

    "dedup_survivors" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM pairs
         |), reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |), clusters AS (
         |  SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY 1)
         |SELECT c.doc_id, c.cluster_id, d.n_chars,
         |  CAST(row_number() OVER (PARTITION BY c.cluster_id
         |    ORDER BY d.n_chars DESC, c.doc_id ASC) = 1 AS BIGINT) AS keep
         |FROM clusters c JOIN documents d USING (doc_id)""".stripMargin,

    // golden-record twin: same recursive components, then per-field
    // survivorship replayed as window ranks / grouped aggregates
    "dedup_golden_record" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM pairs
         |), reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |), clusters AS (
         |  SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY 1
         |), m AS (
         |  SELECT c.cluster_id, c.doc_id, d.lang, d.source, d.n_chars
         |  FROM clusters c JOIN documents d USING (doc_id)
         |), base AS (
         |  SELECT cluster_id,
         |    CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(min(doc_id) AS BIGINT) AS first_doc,
         |    CAST(max(n_chars) AS BIGINT) AS max_chars,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |  FROM m GROUP BY 1
         |), rep AS (
         |  SELECT cluster_id, CAST(doc_id AS BIGINT) AS rep_doc FROM (
         |    SELECT cluster_id, doc_id, row_number() OVER (
         |      PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn
         |    FROM m) WHERE rn = 1
         |), langc AS (
         |  SELECT cluster_id, lang, CAST(count(*) AS BIGINT) AS lang_freq
         |  FROM m GROUP BY 1, 2
         |), langm AS (
         |  SELECT cluster_id, lang AS majority_lang, lang_freq FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY lang_freq DESC, lang ASC) AS rn
         |    FROM langc) WHERE rn = 1
         |)
         |SELECT b.cluster_id, b.n_members, b.first_doc, r.rep_doc,
         |  b.max_chars, b.n_sources, l.majority_lang, l.lang_freq
         |FROM base b
         |JOIN rep r USING (cluster_id)
         |JOIN langm l USING (cluster_id)""".stripMargin,

    "dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |p AS (
        |  SELECT vec_id, embedding,
        |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
        |            xor(bucket, 4), xor(bucket, 8)]) AS bucket
        |  FROM e)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM p a JOIN e b USING (bucket)
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin,

    // semantic-dedup twin: same milli-quantization + fixed-codebook cells
    // as knn_ivf_fixed; the cos² test cross-multiplies in HUGEINT
    // (int128) where Spark uses decimal(38,0) — both exact, hash-equal
    "dedup_semantic" -> {
      val cents = graft.operators.Similarity.fixedCodebook(4, 64)
      def dot(a: String, lits: Seq[Long]): String =
        s"CAST(list_sum(list_transform(list_zip($a, " +
          lits.mkString("[", ",", "]") + "), z -> z[1]*z[2])) AS BIGINT)"
      val scores = cents.zipWithIndex
        .map { case (c, j) => s"${dot("q", c)} AS s$j" }.mkString(",\n  ")
      s"""WITH iq AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |scored AS (SELECT vec_id, q,
         |  $scores
         |  FROM iq),
         |base AS (SELECT vec_id, q,
         |  CASE WHEN s0>=s1 AND s0>=s2 AND s0>=s3 THEN 0
         |       WHEN s1>=s2 AND s1>=s3 THEN 1
         |       WHEN s2>=s3 THEN 2 ELSE 3 END AS cell,
         |  CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS n2
         |  FROM scored),
         |pairs AS (
         |  SELECT a.vec_id AS vid, b.vec_id AS prior_id,
         |    a.n2 AS na2, b.n2 AS nb2,
         |    CAST(list_sum(list_transform(list_zip(a.q, b.q),
         |      z -> z[1]*z[2])) AS BIGINT) AS score
         |  FROM base a JOIN base b ON a.cell = b.cell
         |    AND b.vec_id < a.vec_id),
         |dups AS (
         |  SELECT vid AS vec_id, min(prior_id) AS dup_of FROM pairs
         |  WHERE score > 0 AND CAST(score AS HUGEINT) * score * 1000000
         |    >= 160000 * CAST(na2 AS HUGEINT) * nb2
         |  GROUP BY vid)
         |SELECT b.vec_id, b.cell, (d.dup_of IS NOT NULL) AS is_dup,
         |  d.dup_of
         |FROM base b LEFT JOIN dups d ON b.vec_id = d.vec_id""".stripMargin
    },

    // semantic-decontamination twin: the dedup_semantic replay pointed
    // across corpora — benchmark rows (vec_id % 50 = 7, which also stay
    // in the corpus) quantize + cell-assign identically, cell-blocked
    // integer-dot similarity flags contaminated corpus rows with their
    // smallest flagging benchmark id
    "decontaminate_semantic" -> {
      val cents = graft.operators.Similarity.fixedCodebook(4, 64)
      def dot(a: String, lits: Seq[Long]): String =
        s"CAST(list_sum(list_transform(list_zip($a, " +
          lits.mkString("[", ",", "]") + "), z -> z[1]*z[2])) AS BIGINT)"
      val scores = cents.zipWithIndex
        .map { case (c, j) => s"${dot("q", c)} AS s$j" }.mkString(",\n  ")
      s"""WITH iq AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |scored AS (SELECT vec_id, q,
         |  $scores
         |  FROM iq),
         |base AS (SELECT vec_id, q,
         |  CASE WHEN s0>=s1 AND s0>=s2 AND s0>=s3 THEN 0
         |       WHEN s1>=s2 AND s1>=s3 THEN 1
         |       WHEN s2>=s3 THEN 2 ELSE 3 END AS cell,
         |  CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS n2
         |  FROM scored),
         |bench AS (SELECT vec_id AS bench_id, q AS qb, cell, n2 AS nb2
         |  FROM base WHERE vec_id % 50 = 7),
         |hits AS (
         |  SELECT c.vec_id, min(b.bench_id) AS contaminant_id
         |  FROM base c JOIN bench b ON c.cell = b.cell
         |  WHERE CAST(list_sum(list_transform(list_zip(c.q, b.qb),
         |      z -> z[1]*z[2])) AS BIGINT) > 0
         |    AND CAST(list_sum(list_transform(list_zip(c.q, b.qb),
         |      z -> z[1]*z[2])) AS HUGEINT)
         |      * CAST(list_sum(list_transform(list_zip(c.q, b.qb),
         |      z -> z[1]*z[2])) AS BIGINT) * 1000000
         |      >= 160000 * CAST(c.n2 AS HUGEINT) * b.nb2
         |  GROUP BY c.vec_id)
         |SELECT c.vec_id, c.cell,
         |  CAST(CASE WHEN h.contaminant_id IS NOT NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS contaminated,
         |  h.contaminant_id
         |FROM base c LEFT JOIN hits h ON c.vec_id = h.vec_id""".stripMargin
    },

    "knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5""".stripMargin,

    // radius search: the dedup_semantic integer test (milli-quantize,
    // HUGEINT cross-multiplied cos² >= 0.81) across query × corpus
    "knn_radius" ->
      """WITH iq AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, q,
        |    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS n2
        |  FROM iq),
        |p AS (
        |  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(list_zip(c.q, qr.q),
        |      z -> z[1]*z[2])) AS BIGINT) AS score,
        |    c.n2 AS n2_c, qr.n2 AS n2_q
        |  FROM n c CROSS JOIN n qr WHERE qr.vec_id < 20)
        |SELECT query_id, neighbor_id, score FROM p
        |WHERE query_id != neighbor_id AND score > 0
        |  AND CAST(score AS HUGEINT) * score * 1000000
        |      >= 160000 * CAST(n2_c AS HUGEINT) * n2_q""".stripMargin,

    // at-rest radius: deterministic fixed-codebook cells + top-2 probes
    // (dot desc, cell asc — the posexplode order), radius test within
    // the probed candidates only — the PRUNED result replays exactly
    "knn_radius_ivf" -> {
      val cents = graft.operators.Similarity.fixedCodebook(4, 64)
      def dot(a: String, lits: Seq[Long]): String =
        s"CAST(list_sum(list_transform(list_zip($a, " +
          lits.mkString("[", ",", "]") + "), z -> z[1]*z[2])) AS BIGINT)"
      val scores = cents.zipWithIndex
        .map { case (c, j) => s"${dot("q", c)} AS s$j" }.mkString(",\n  ")
      s"""WITH iq AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |sc AS (SELECT vec_id, q,
         |  CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS n2,
         |  $scores
         |  FROM iq),
         |base AS (SELECT vec_id, q, n2,
         |  CASE WHEN s0>=s1 AND s0>=s2 AND s0>=s3 THEN 0
         |       WHEN s1>=s2 AND s1>=s3 THEN 1
         |       WHEN s2>=s3 THEN 2 ELSE 3 END AS cell
         |  FROM sc),
         |qp AS (
         |  SELECT vec_id AS query_id, q AS qq, n2 AS n2_q, cell AS pcell
         |  FROM (
         |    SELECT vec_id, q, n2, u.cell AS cell, u.cs AS cs,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY u.cs DESC, u.cell ASC) AS pr
         |    FROM sc, unnest([
         |      {'cell': 0, 'cs': s0}, {'cell': 1, 'cs': s1},
         |      {'cell': 2, 'cs': s2}, {'cell': 3, 'cs': s3}]) AS t(u)
         |    WHERE vec_id < 20)
         |  WHERE pr <= 2),
         |p AS (
         |  SELECT qp.query_id, c.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(list_zip(c.q, qp.qq),
         |      z -> z[1]*z[2])) AS BIGINT) AS score,
         |    c.n2 AS n2_c, qp.n2_q AS n2_q
         |  FROM base c JOIN qp ON c.cell = qp.pcell)
         |SELECT query_id, neighbor_id, score FROM p
         |WHERE query_id != neighbor_id AND score > 0
         |  AND CAST(score AS HUGEINT) * score * 1000000
         |      >= 160000 * CAST(n2_c AS HUGEINT) * n2_q""".stripMargin
    },

    "knn_bucketed" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv,
        |        unnest([bucket, xor(bucket, 1), xor(bucket, 2),
        |                xor(bucket, 4), xor(bucket, 8)]) AS bucket
        |      FROM e WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q JOIN e USING (bucket) WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5""".stripMargin,

    // the oracled brute-force knn + an integer vote; same tiebreaks
    "knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |nn AS (
        |  SELECT query_id, neighbor_id, label FROM (
        |    SELECT query_id, neighbor_id, label, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM scored) WHERE rank <= 5),
        |votes AS (
        |  SELECT query_id, label, count(*) AS v FROM nn GROUP BY 1, 2)
        |SELECT query_id, CAST(label AS BIGINT) AS pred_label, v AS votes
        |FROM (
        |  SELECT query_id, label, v, row_number() OVER (
        |    PARTITION BY query_id ORDER BY v DESC, label ASC) AS rn
        |  FROM votes)
        |WHERE rn = 1""".stripMargin,

    // SQ8 twin: the whole tier is exact-integer underneath — codes are
    // round(x*127/maxabs) (the proven emb_quantize_int8 replay), the int8
    // cosine is a ratio of exact integer dot/norms (one sqrt + one divide,
    // the same IEEE ops in both engines), and both the candidate cut and
    // the fp32 re-rank break ties by neighbor_id
    "knn_int8_rerank" ->
      """WITH c8 AS (
        |  SELECT vec_id,
        |    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding,
        |      e -> abs(CAST(e AS DOUBLE)))) AS m
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id, v,
        |    CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v,
        |           x -> CAST(round(x * 127 / m) AS BIGINT)) END AS q
        |  FROM c8),
        |pairs AS (
        |  SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
        |    qq.v AS qv, cc.v AS cv,
        |    list_sum(list_transform(list_zip(qq.q, cc.q),
        |      z -> z[1]*z[2])) AS dot,
        |    list_sum(list_transform(qq.q, x -> x*x)) AS na,
        |    list_sum(list_transform(cc.q, x -> x*x)) AS nb
        |  FROM codes qq, codes cc
        |  WHERE qq.vec_id < 20 AND cc.vec_id <> qq.vec_id),
        |approx AS (
        |  SELECT query_id, neighbor_id, qv, cv,
        |    CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) /
        |           sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS ic
        |  FROM pairs),
        |cand AS (
        |  SELECT query_id, neighbor_id, qv, cv FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY ic DESC, neighbor_id) AS cr
        |    FROM approx) WHERE cr <= 25),
        |ranked AS (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id
        |    ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) AS rank
        |  FROM cand)
        |SELECT query_id, rank, neighbor_id FROM ranked
        |WHERE rank <= 5""".stripMargin,

    // Fixed-codebook IVF twin: the centroid literals come from the SAME
    // Scala value the query uses (Similarity.fixedCodebook), quantization
    // is floor(CAST(x AS DOUBLE)*1000) in both engines (identical IEEE
    // ops), and every score is an exact integer — argmax ties to the
    // smallest cell, top-k ties to the smallest neighbor, so the replay is
    // bit-exact end to end.
    "knn_ivf_fixed" -> knnIvfFixedSql,

    "knn_ivf_recall" -> knnIvfRecallSql,

    // the at-rest + INCREMENTAL-APPEND twin: the layout is built on a
    // base slice and grown by appendToIvf-style appends under the same
    // literal codebook, so its query result must equal the in-memory
    // fixed-codebook query over the full corpus — one SQL oracle serves
    // both keys, which is exactly the claim (append is invisible)
    "knn_ivf_append" -> knnIvfFixedSql,

    // filtered ANN: same replay, corpus side restricted by the metadata
    // predicate (the probe side stays unfiltered, exactly like the engine)
    "knn_ivf_filtered" -> knnIvfFixedSqlWhere("\n    AND c.label <= 4"),

    // the TRAINED tier under a full hash oracle (r17): DuckDB re-derives
    // the exact-arithmetic k-means codebook and replays the whole IVF
    // dataflow; the at-rest partitioned layout must answer identically,
    // so one SQL serves both keys (the append-invisibility claim, on the
    // trained tier)
    "knn_ivf" -> knnIvfExactSql,
    "knn_ivf_at_rest" -> knnIvfExactSql,

    // trained IVF,SQ8 (r17): exact-kmeans cells composed with the proven
    // int8/fp32 tail of knn_ivf_sq8_fixed
    "knn_ivf_sq8" -> knnIvfSq8ExactSql,

    // trained PQ tiers (r17): per-subspace exact-kmeans sub-books,
    // integer ADC, fp32 re-rank — the IVF variant adds the coarse chain
    "knn_pq_adc" -> knnPqAdcExactSql,
    "knn_ivf_pq" -> knnIvfPqExactSql,

    "emb_matryoshka_recall" -> matryoshkaRecallSql,

    "emb_negative_samples" -> negativeSamplesSql,

    "knn_pq_adc_fixed" -> knnPqAdcFixedSql,

    "knn_ivf_sq8_fixed" -> knnIvfSq8FixedSql,

    "knn_ivf_pq_fixed" -> knnIvfPqFixedSql,

    "bpe_merges_head" -> bpeMergesSql(16),
    "bpe_merges" -> bpeMergesSql(50),

    "text_language_id" -> {
      val markers = TextAnalysis.markers
      val scoreCols = markers.map { case (lang, ws) =>
        ws.map(w => s"(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)")
          .mkString("(", " + ", s") AS score_$lang")
      }.mkString(",\n  ")
      val best = markers.map { case (l, _) => s"score_$l" }
        .mkString("greatest(", ", ", ")")
      val pred = markers.map { case (l, _) =>
        s"WHEN $best > 0 AND score_$l = $best THEN '$l'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks,
         |    CAST(length(regexp_replace(text, '[^\\p{Han}]', '', 'g')) AS BIGINT)
         |      AS n_han
         |  FROM documents
         |), scored AS (
         |  SELECT doc_id, n_han,
         |  $scoreCols
         |  FROM tk)
         |SELECT doc_id, ${markers.map { case (l, _) => s"score_$l" }.mkString(", ")},
         |  n_han,
         |  CASE WHEN n_han >= 3 THEN 'zh' ELSE $pred END AS lang_pred
         |FROM scored""".stripMargin
    },

    // model-inference twin: identical integer features (length/replace
    // deltas) and the same milli-unit margin arithmetic — bigint ops
    // never widen in DuckDB, casts are belt-and-braces
    "ml_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS f_chars,
        |    CAST(length(text) - length(replace(text, ' ', ''))
        |      AS BIGINT) AS f_spaces,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS f_digits,
        |    CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g'))
        |      AS BIGINT) AS f_punct,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
        |      AS BIGINT) AS f_upper
        |  FROM documents
        |), s AS (
        |  SELECT *, 500 - f_chars + 12 * f_spaces - 8 * f_digits
        |    + 25 * f_punct - 3 * f_upper AS score
        |  FROM f)
        |SELECT doc_id, f_chars, f_spaces, f_digits, f_punct, f_upper,
        |  CAST(score AS BIGINT) AS score_milli,
        |  CAST(score >= 1200 AS BIGINT) AS label
        |FROM s""".stripMargin,

    "text_quality" -> {
      val enStop = TextAnalysis.markers.toMap.apply("en")
      // n_stopwords counts HITS over the token stream (with repeats), so the
      // oracle filters the full list, not the distinct set
      s"""WITH tk AS (
         |  SELECT doc_id, text,
         |    string_split_regex(lower(trim(text)), '\\s+') AS toks
         |  FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS BIGINT)
         |      AS n_alpha,
         |    CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
         |      AS BIGINT) AS n_punct,
         |    CAST(len(list_filter(toks,
         |      x -> x IN (${enStop.map(w => s"'$w'").mkString(", ")})))
         |      AS BIGINT) AS n_stopwords
         |  FROM tk)
         |SELECT doc_id, n_chars, n_tokens, n_alpha, n_punct, n_stopwords,
         |  CAST(n_alpha AS DOUBLE) / n_tokens AS mean_token_len,
         |  (n_tokens >= 10 AND CAST(n_alpha AS DOUBLE) / n_tokens >= 2.0
         |   AND n_punct * 5 <= n_chars) AS quality_ok
         |FROM m""".stripMargin
    },

    "text_length_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  quantile_cont(n_chars, 0.5) AS median_chars,
        |  quantile_cont(n_chars, 0.9) AS p90_chars
        |FROM documents GROUP BY 1""".stripMargin,

    "text_length_histogram" ->
      """SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bin_lo,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "text_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
        |    AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |    AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "bpe_encode" -> bpeEncodeSql,

    "bpe_fertility" -> bpeFertilitySql,

    "dedup_substring_cut" -> substringCutSql,

    "text_dup_ngrams" -> dupNgramsSql,

    "text_winnowing" -> winnowFingerprintsSql,

    "dedup_winnowing" -> winnowPairsSql,
    "dedup_winnowing_rel" -> winnowPairsRelSql,

    "dedup_winnow_clusters" -> winnowClustersSql,

    // capstone #3 twin: the full selection chain — quality expression as
    // in pipeline_retention (the qualityOk twin), winnow pair closure
    // over q1, k=12/w=8 decontamination of q2 vs the benchmark slice,
    // DSIR weights fit ON q3, top-100 pick with the md5 tiebreak; the
    // final row carries the per-stage counts AND the selected set's
    // summed weight (pinning WHICH docs were picked, not just how many)
    "pipeline_dsir" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 <> 7
         |), q1 AS (
         |  SELECT doc_id, text, lang FROM (
         |    SELECT doc_id, text, lang,
         |      string_split_regex(lower(trim(text)), '\\s+') AS toks
         |    FROM corpus) x
         |  WHERE len(toks) >= 10
         |    AND CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g'))
         |        AS DOUBLE) / len(toks) >= 2.0
         |    AND length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
         |        * 5 <= length(text)
         |), ${winnowPairCtes(materialized = true, from = "q1")},
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM pairs
         |), reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |), losers AS (
         |  SELECT u AS doc_id FROM (
         |    SELECT u, min(v) AS c FROM reach GROUP BY 1) WHERE u <> c
         |), q2 AS (
         |  SELECT doc_id, text, lang FROM q1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |), bench AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 7
         |), ${winnowCtesFor(12, 8, "q2", "d")},
         |${winnowCtesFor(12, 8, "bench", "bn")},
         |dex AS (SELECT doc_id, unnest(fp) AS f FROM dfp),
         |bex AS (SELECT DISTINCT unnest(fp) AS f FROM bnfp),
         |contaminated AS (SELECT DISTINCT doc_id FROM dex JOIN bex USING (f)),
         |q3 AS (
         |  SELECT doc_id, text, lang FROM q2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |), ${dsirCtes("q3")},
         |picked AS (
         |  SELECT doc_id, logw_q FROM w
         |  ORDER BY logw_q DESC,
         |    substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         |  LIMIT 100)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_input,
         |  (SELECT CAST(count(*) AS BIGINT) FROM q1) AS n_quality,
         |  (SELECT CAST(count(*) AS BIGINT) FROM q2) AS n_dedup,
         |  (SELECT CAST(count(*) AS BIGINT) FROM q3) AS n_decontaminated,
         |  (SELECT CAST(count(*) AS BIGINT) FROM picked) AS n_selected,
         |  (SELECT CAST(sum(logw_q) AS BIGINT) FROM picked) AS sum_logw_q""".stripMargin,

    // incremental winnow twin: same split as dedup_incremental (new =
    // doc_id%10 >= 8, ref = < 8); the df cap is computed on the REFERENCE
    // side only, mirroring the once-per-corpus index
    "dedup_winnow_incremental" ->
      s"""$winnowCtes,
         |ex AS (SELECT doc_id, unnest(fp) AS f FROM fp),
         |refex AS (SELECT * FROM ex WHERE doc_id % 10 < 8),
         |cold AS (
         |  SELECT * FROM refex WHERE f NOT IN (
         |    SELECT f FROM refex GROUP BY 1 HAVING count(*) > 20)),
         |newex AS (SELECT * FROM ex WHERE doc_id % 10 >= 8),
         |mm AS (
         |  SELECT n.doc_id AS nid, c.doc_id AS rid, count(*) AS sh
         |  FROM newex n JOIN cold c USING (f) GROUP BY 1, 2),
         |m AS (SELECT nid, count(*) AS nm FROM mm WHERE sh >= 8 GROUP BY 1)
         |SELECT d.doc_id AS new_id,
         |  CAST(coalesce(m.nm, 0) AS BIGINT) AS n_matches,
         |  CAST(CASE WHEN coalesce(m.nm, 0) > 0 THEN 1 ELSE 0 END
         |    AS BIGINT) AS dropped
         |FROM documents d LEFT JOIN m ON d.doc_id = m.nid
         |WHERE d.doc_id % 10 >= 8""".stripMargin,

    // winnow decontamination: the k=12/w=8 fingerprint chain, benchmark =
    // the doc_id % 50 = 7 slice (the decontaminate family's split)
    "decontaminate_winnow" ->
      s"""WITH ${winnowCtesFor(12, 8)},
         |ex AS (SELECT doc_id, unnest(fp) AS f FROM fp),
         |bench AS (SELECT DISTINCT f FROM ex WHERE doc_id % 50 = 7)
         |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shared_fps
         |FROM ex e JOIN bench USING (f)
         |WHERE e.doc_id % 50 != 7
         |GROUP BY 1""".stripMargin,

    // the md5 fingerprint half replays exactly (same normalize as
    // dedup_exact); kept as the parameter-simplified twin of the full
    // row below
    "text_fingerprints_md5" ->
      s"""SELECT doc_id, md5(${normSql("text")}) AS md5_fp
         |FROM documents""".stripMargin,

    // FULL fingerprints twin (r16): the rolling xxhash64 fold
    // `aggregate(tokens, 0L, (acc, t) => xxhash64(acc, t))` is strictly
    // sequential per doc — XxhSql.rollingHashCtes runs the token-boundary
    // phase machine (hashString with the previous accumulator folded
    // through hashLong(·, 42) as each next token's seed); the md5 half is
    // the twin above. LEFT JOIN keeps Spark's NULL fingerprints for NULL
    // text (no tokens to fold)
    "text_fingerprints" ->
      s"""WITH RECURSIVE
         |tl AS (
         |  SELECT doc_id, text,
         |    string_split_regex(lower(trim(text)), '\\s+') AS tl
         |  FROM documents),
         |occ0 AS (
         |  SELECT doc_id, len(tl) AS ntok,
         |    unnest(list_transform(range(1, len(tl) + 1),
         |      i -> {'i': i, 't': tl[i]})) AS r
         |  FROM tl WHERE tl IS NOT NULL),
         |ftok AS MATERIALIZED (
         |  SELECT doc_id, CAST(r.i AS BIGINT) AS ti,
         |    hex(encode(r.t)) AS hx,
         |    CAST(octet_length(encode(r.t)) AS HUGEINT) AS n,
         |    CAST(ntok AS BIGINT) AS ntok
         |  FROM occ0),
         |${graft.XxhSql.rollingHashCtes("ftok")}
         |SELECT d.doc_id, md5(${normSql("text")}) AS md5_fp,
         |  ${graft.XxhSql.signed("r.h")} AS rolling_fp
         |FROM documents d LEFT JOIN rout r ON r.doc_id = d.doc_id"""
        .stripMargin,

    // ranking replay: order by the same tf*ln((N+1)/(df+1)) key with the
    // same term tie-break, but OUTPUT only integers (tf, df) so the
    // comparison is hash-exact with no double in the result
    "text_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE length(term) > 0 GROUP BY 1, 2
        |), dfx AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, rank, term, tf, df FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * ln((n.n_docs + 1.0) / (dfx.df + 1.0)) DESC,
        |        tf.term ASC) AS rank
        |  FROM tf JOIN dfx USING (term) CROSS JOIN n
        |) WHERE rank <= 5""".stripMargin,

    // Gopher-style repetition stats: duplicate-line and top-bigram
    // multiplicity as integers, thresholds via integer cross-multiply —
    // every compared value is integer/boolean, hash-exact
    "text_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_transform(list_filter(string_split(text, chr(10)),
        |      x -> trim(x) <> ''), x -> trim(x)) AS lines,
        |    string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, lines,
        |    CASE WHEN len(t) >= 2
        |         THEN list_transform(range(len(t) - 1),
        |                i -> t[i+1] || ' ' || t[i+2])
        |         ELSE [] END AS bigrams
        |  FROM base
        |), mult AS (
        |  -- max multiplicity among a doc's bigrams (declarative twin of
        |  -- the engine's sorted-run fold)
        |  SELECT doc_id, max(c) AS top FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(bigrams) AS g FROM bg)
        |    GROUP BY 1, 2)
        |  GROUP BY 1
        |), m AS (
        |  SELECT bg.doc_id,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_distinct(lines)) AS BIGINT) AS n_distinct_lines,
        |    CAST(len(bigrams) AS BIGINT) AS n_bigrams,
        |    CAST(coalesce(mult.top, 0) AS BIGINT) AS top_bigram_count
        |  FROM bg LEFT JOIN mult ON bg.doc_id = mult.doc_id)
        |SELECT doc_id, n_lines, n_distinct_lines, n_bigrams, top_bigram_count,
        |  (n_lines > 0 AND (n_lines - n_distinct_lines) * 10 > n_lines * 3)
        |  OR (n_bigrams > 0 AND top_bigram_count * 10 > n_bigrams * 2)
        |    AS repetitive
        |FROM m""".stripMargin,

    // PII detect + redact: same regexes (Java/RE2-portable subset), same
    // email-before-phone order; 'g' = replace all, matching Spark
    // funnel twin: the textbook per-stage min(ts > prev) self-join chain,
    // left-joined so users who never reach a stage keep NULLs
    "events_user_funnel" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        |), v AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        |  WHERE e.event_type = 'click' GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT u.user_id, v.t1 AS first_view, c.t2 AS first_click_after,
        |  p.t3 AS first_purchase_after
        |FROM u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id""".stripMargin,

    "events_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_type AS next,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev, next, CAST(count(*) AS BIGINT) AS n
        |FROM o WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // gaps-and-islands twin: the same rank-difference constant, same
    // (ts, event_id) total order, run identity = first stream position
    "events_state_runs" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rnt
        |  FROM events)
        |SELECT user_id, event_type,
        |  CAST(min(rn) AS BIGINT) AS run_start_seq,
        |  count(*) AS run_len
        |FROM o GROUP BY user_id, event_type, rn - rnt""".stripMargin,

    "events_retention" ->
      """WITH f AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT e.user_id, f.cohort,
        |    date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS offs
        |  FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort, CAST(offs AS BIGINT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin,

    // exact-integer k-means, unrolled: quantize to thousandths, 2
    // Lloyd iterations with integer floor-average centroid updates
    // (COALESCE keeps an empty cell's previous centroid, mirroring the
    // engine), assignment = squared-L2 argmin with ties to the smallest
    // cell — every step integer-exact, so the full clustering hash-matches
    "emb_kmeans" -> {
      val (ctes, aF, _) = exactKmeansCtes(k = 4, iters = 2)
      s"""WITH $ctes
         |SELECT $aF.vec_id, CAST($aF.cell AS BIGINT) AS cell, cnt.n AS cluster_n
         |FROM $aF JOIN (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
         |              FROM $aF GROUP BY cell) cnt ON $aF.cell = cnt.cell""".stripMargin
    },

    // gram twin: the explode form — quantize to thousandths, self-join
    // per vector on i <= j, sum products; identical exact integers to
    // the engine's single-buffer custom aggregate
    "emb_pca_gram" ->
      """WITH q AS (
        |  SELECT vec_id, CAST(i.range AS BIGINT) AS i,
        |    CAST(floor(CAST(embedding[i.range + 1] AS DOUBLE) * 1000)
        |      AS BIGINT) AS qi
        |  FROM embeddings, range(64) i
        |), sums AS (
        |  SELECT i, CAST(sum(qi) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM q GROUP BY i
        |), prods AS (
        |  SELECT a.i AS i, b.i AS j, CAST(sum(a.qi * b.qi) AS BIGINT)
        |    AS s_ij
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2
        |)
        |SELECT p.i, p.j, si.n AS n, si.s AS s_i, sj.s AS s_j, p.s_ij
        |FROM prods p
        |JOIN sums si ON p.i = si.i
        |JOIN sums sj ON p.j = sj.i""".stripMargin,

    // centroid accumulators: quantize each float component to integer
    // millionths BEFORE summing (order-independent, hash-exact); pos is
    // 0-based to match posexplode; the product is computed in DOUBLE on
    // both sides (float widens exactly — float×int promotion differs)
    "emb_label_centroids" ->
      """WITH x AS (
        |  SELECT label, unnest(list_transform(generate_series(1, len(embedding)),
        |    i -> {'pos': i - 1,
        |          'q': CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)})) AS u
        |  FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label, CAST(u.pos AS BIGINT) AS pos,
        |  CAST(sum(u.q) AS BIGINT) AS sum_q, CAST(count(*) AS BIGINT) AS n_vecs
        |FROM x GROUP BY 1, 2""".stripMargin,

    // int8 quantization twin: identical double-widened arithmetic and the
    // same zero-vector guard; codes are round(x*127/max_abs)
    "emb_quantize_int8" ->
      """WITH x AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding,
        |      e -> abs(CAST(e AS DOUBLE)))) AS m,
        |    unnest(list_transform(generate_series(1, len(embedding)),
        |      i -> {'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
        |  FROM embeddings)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(u.pos AS BIGINT) AS pos,
        |  CAST(CASE WHEN m = 0 THEN 0
        |            ELSE round(u.x * 127 / m) END AS BIGINT) AS q8,
        |  CAST(round(m * 1000000) AS BIGINT) AS max_abs_e6
        |FROM x""".stripMargin,

    // random-projection twin: sign(j,i) = high bit of the Knuth
    // multiplicative hash of j*1024+i; the fold runs in index order in
    // DOUBLE on both sides (list_reduce seeds with element 1, matching
    // Spark's 0.0 + x1 exactly — IEEE 0.0 + x == x)
    // fixed-basis PCA projection twin: same Knuth sign hash as the random
    // projection but ±1/8 loadings, mean 1/2, and the PcaProjectExpr
    // quantization floor(x*1000)/1000 — the list_reduce fold runs in the
    // same index order in DOUBLE as the expression's loop, so the sum is
    // bit-identical; the true value is an exact integer (±(125q − 62500)
    // terms), so round == rint
    "emb_pca_project_fixed" ->
      """WITH x AS (
        |  SELECT vec_id, unnest(list_transform(generate_series(0, 7), j -> {
        |    'pos': j,
        |    'proj_e6': CAST(round(list_reduce(
        |      list_transform(generate_series(1, 64),
        |        i -> (CASE WHEN ((j * 1024 + i - 1) * 2654435761) % 4294967296
        |                        >= 2147483648
        |              THEN 0.125 ELSE -0.125 END) *
        |             (floor(CAST(embedding[i] AS DOUBLE) * 1000) / 1000 - 0.5)),
        |      (a, b) -> a + b) * 1000000) AS BIGINT)})) AS u
        |  FROM embeddings)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(u.pos AS BIGINT) AS pos,
        |  u.proj_e6 AS proj_e6
        |FROM x""".stripMargin,

    "emb_random_projection" ->
      """WITH x AS (
        |  SELECT vec_id, unnest(list_transform(generate_series(0, 15), j -> {
        |    'pos': j,
        |    'out_q': CAST(round(list_reduce(
        |      list_transform(generate_series(1, len(embedding)),
        |        i -> (CASE WHEN ((j * 1024 + i - 1) * 2654435761) % 4294967296
        |                        >= 2147483648
        |              THEN 1.0 ELSE -1.0 END) * CAST(embedding[i] AS DOUBLE)),
        |      (a, b) -> a + b) * 1000000) AS BIGINT)})) AS u
        |  FROM embeddings)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(u.pos AS BIGINT) AS pos,
        |  u.out_q AS out_q
        |FROM x""".stripMargin,

    // BM25 twin: identical expression tree (same literal spellings, same
    // association order), per-term micro-unit quantization before the
    // integer per-doc sum, ties broken by doc_id
    // tf·idf with the round(ln·1e6) micro-nat idiom collocations proved
    "text_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE t <> ''
        |), tf AS (
        |  SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2
        |), dft AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
        |    tf.tf * CAST(round(ln(CAST(n.n_docs AS DOUBLE) / dft.df)
        |      * 1000000) AS BIGINT) AS tfidf_micro
        |  FROM tf JOIN dft USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf_micro DESC, term ASC) AS rk
        |  FROM scored
        |)
        |SELECT doc_id, term, tf, df, tfidf_micro, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 3""".stripMargin,

    // index lookup replayed from the RAW corpus: a layout can never
    // change query results, so the oracle ignores the index entirely
    "text_index_lookup" ->
      """WITH toks AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE t <> ''
        |), tf AS (
        |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM toks
        |  WHERE t IN ('vector', 'merge', 'spark') GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN t = 'vector' THEN tf ELSE 0 END) AS BIGINT)
        |    AS tf_vector,
        |  CAST(sum(CASE WHEN t = 'merge' THEN tf ELSE 0 END) AS BIGINT)
        |    AS tf_merge,
        |  CAST(sum(CASE WHEN t = 'spark' THEN tf ELSE 0 END) AS BIGINT)
        |    AS tf_spark,
        |  CAST(sum(tf) AS BIGINT) AS score
        |FROM tf GROUP BY 1 HAVING count(DISTINCT t) = 3""".stripMargin,

    "text_bm25_topk" ->
      s"""WITH ${bm25Ctes(10)}
         |SELECT id AS doc_id,
         |  CAST(row_number() OVER (ORDER BY score_e6 DESC, id) AS BIGINT)
         |    AS rank,
         |  score_e6
         |FROM bm_top""".stripMargin,

    // entropy twin: identical per-term quantization (same CAST-to-DOUBLE
    // division inside ln, same micro-nat rounding), HUGEINT-exact sum,
    // one truncating division at the end (operands positive after the
    // sign flip)
    "text_entropy_by_lang" ->
      """WITH toks AS (
        |  SELECT lang,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents
        |), tc AS (
        |  SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM toks
        |  WHERE length(w) > 0 GROUP BY 1, 2
        |), tot AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_terms
        |  FROM tc GROUP BY 1
        |), sq AS (
        |  SELECT tc.lang,
        |    sum(tc.c * CAST(round(ln(CAST(tc.c AS DOUBLE) / t.n) * 1000000)
        |      AS BIGINT)) AS s
        |  FROM tc JOIN tot t USING (lang) GROUP BY 1
        |)
        |SELECT t.lang, t.n AS n_tokens, t.n_terms,
        |  CAST((-sq.s) // t.n AS BIGINT) AS entropy_unat
        |FROM sq JOIN tot t USING (lang)""".stripMargin,

    // RRF replay: the shared BM25 chain at k=50 plus the full
    // lm_doc_coverage chain (all docs, zeros included — identical tie
    // universe), both ranked by row_number with the same tiebreaks,
    // fused by integer reciprocal ranks (// truncates; operands
    // positive)
    "text_rrf_fusion" ->
      s"""WITH ${bm25Ctes(50)},
         |ra AS (
         |  SELECT id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY score_e6 DESC, id) AS BIGINT)
         |      AS rank
         |  FROM bm_top
         |), cbase AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents
         |), cbg AS (
         |  SELECT doc_id, CASE WHEN len(t) >= 2
         |              THEN list_transform(range(len(t) - 1),
         |                     i -> t[i+1] || ' ' || t[i+2])
         |              ELSE [] END AS bigrams
         |  FROM cbase
         |), cdb AS (
         |  SELECT doc_id, unnest(bigrams) AS bigram FROM cbg
         |), ccnt AS (
         |  SELECT bigram, count(*) AS n FROM cdb GROUP BY 1
         |), clm AS (
         |  SELECT bigram, n FROM (
         |    SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC)
         |      AS r FROM ccnt) WHERE r <= 1000
         |), chits AS (
         |  SELECT cdb.doc_id,
         |    coalesce(CAST(sum(clm.n) AS BIGINT), 0) AS hit_count_sum
         |  FROM cdb LEFT JOIN clm USING (bigram) GROUP BY 1
         |), cov AS (
         |  SELECT d.doc_id, coalesce(h.hit_count_sum, 0) AS hit_count_sum
         |  FROM documents d LEFT JOIN chits h USING (doc_id)
         |), rb AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY hit_count_sum DESC, doc_id)
         |      AS BIGINT) AS rank
         |  FROM cov ORDER BY hit_count_sum DESC, doc_id LIMIT 50
         |), contrib AS (
         |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM ra
         |  UNION ALL
         |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM rb
         |), fused AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score
         |  FROM contrib GROUP BY 1
         |), ftop AS (
         |  SELECT doc_id, rrf_score FROM fused
         |  ORDER BY rrf_score DESC, doc_id LIMIT 20)
         |SELECT doc_id, rrf_score,
         |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
         |    AS BIGINT) AS rank
         |FROM ftop""".stripMargin,

    // vocab twin: same tokenization as bm25, same (count desc, token)
    // rank order
    "vocab_top_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents
        |), counts AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks
        |  WHERE length(token) > 0 GROUP BY 1)
        |SELECT token,
        |  CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
        |    AS token_id,
        |  n
        |FROM counts ORDER BY n DESC, token LIMIT 500""".stripMargin,

    // PMI replay: identical count algebra, identical left-associated
    // double expression inside ln, identical micro-nat rounding; empty
    // tokens excluded from unigrams/totals like the vocab family
    "text_collocations" ->
      """WITH toks AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), uni AS (
        |  SELECT unnest(t) AS w FROM toks
        |), unif AS (SELECT w FROM uni WHERE length(w) > 0),
        |c1 AS (SELECT w, count(*) AS c FROM unif GROUP BY 1),
        |n1 AS (SELECT count(*) AS n FROM unif),
        |big AS (
        |  SELECT unnest(list_transform(range(len(t) - 1),
        |    i -> [t[i+1], t[i+2]])) AS p
        |  FROM toks WHERE len(t) >= 2
        |), n2 AS (SELECT count(*) AS n FROM big),
        |c2 AS (
        |  SELECT p[1] AS w1, p[2] AS w2, count(*) AS c_pair
        |  FROM big GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT w1, w2, c_pair, a.c AS c_w1, b.c AS c_w2,
        |  CAST(round(ln((CAST(c_pair AS DOUBLE) * n1.n * n1.n) /
        |    (CAST(n2.n AS DOUBLE) * a.c * b.c)) * 1000000) AS BIGINT)
        |    AS pmi_q
        |FROM c2 JOIN c1 a ON c2.w1 = a.w
        |        JOIN c1 b ON c2.w2 = b.w, n1, n2
        |ORDER BY pmi_q DESC, w1, w2 LIMIT 100""".stripMargin,

    // encode twin: positions enumerate the RAW split (filtered empties
    // keep their gap), OOV tokens -> 0 via the left join
    "vocab_encode" ->
      """WITH sp AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS a
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, u.pos, u.token FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(a)),
        |      i -> {'pos': i - 1, 'token': a[i]})) AS u
        |    FROM sp)
        |  WHERE length(u.token) > 0
        |), counts AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1
        |), vocab AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
        |      AS token_id
        |  FROM counts ORDER BY n DESC, token LIMIT 500)
        |SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos,
        |  coalesce(v.token_id, 0) AS token_id
        |FROM toks t LEFT JOIN vocab v USING (token)""".stripMargin,

    // mixture twin: thresholds are hexThreshold(rate) literals (rate *
    // 16^8 as 8 hex digits); hex sorts lexicographically like its value
    "sample_mixture" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CASE lang
        |  WHEN 'en' THEN substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |  WHEN 'es' THEN substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
        |  WHEN 'de' THEN substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |  WHEN 'fr' THEN substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
        |  WHEN 'zh' THEN substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) < 'ffffffff'
        |  ELSE FALSE END""".stripMargin,

    // stratified twin: named strata compare against their hexThreshold,
    // unnamed strata keep everything (ELSE TRUE)
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CASE lang
        |  WHEN 'en' THEN substr(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |  WHEN 'zh' THEN substr(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
        |  ELSE TRUE END""".stripMargin,

    // weighted-mean twin: same integer sums, same truncating ppm division
    "a_weighted_mean" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS sum_wx,
        |    sum(CAST(l_quantity AS BIGINT)) AS sum_w
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(sum_wx AS BIGINT) AS sum_wx,
        |  CAST(sum_w AS BIGINT) AS sum_w,
        |  CAST(sum_wx * 1000000 // sum_w AS BIGINT) AS mean_ppm
        |FROM s""".stripMargin,

    // variance twin: same integer power sums (DuckDB's sum(BIGINT) is
    // HUGEINT — 128-bit, like Spark's decimal(38,0)), same truncating
    // integer division — combine-order-free on both engines
    "a_variance_exact" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sum_cents,
        |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |      * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sum_sq
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, CAST(sum_cents AS BIGINT) AS sum_cents,
        |  CAST((n * sum_sq - sum_cents * sum_cents)
        |    // (n * (n - 1)) AS BIGINT) AS var_cents_sq
        |FROM s""".stripMargin,

    // covariance twin: same HUGEINT power sums; both engines' integer
    // division TRUNCATES toward zero (DuckDB -7 // 2 = -3, Spark div
    // likewise), so the possibly-negative quotient matches unadjusted
    "a_covariance_exact" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS BIGINT)) AS sum_x,
        |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sum_y,
        |    sum(CAST(l_quantity AS BIGINT)
        |      * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sum_xy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, CAST(sum_x AS BIGINT) AS sum_x,
        |  CAST(sum_y AS BIGINT) AS sum_y,
        |  CAST((n * sum_xy - sum_x * sum_y)
        |    // (n * (n - 1)) AS BIGINT) AS cov_q_cents
        |FROM s""".stripMargin,

    // covariance-matrix twin: identical power sums from one aggregated
    // CTE, one UNION ALL branch per unordered pair; the signed division
    // uses the (x - x%y) // y spelling so flooring (//) and Spark's
    // truncating div agree on negative covariances
    "a_cov_matrix" -> {
      val vars = Seq(
        "qty" -> "CAST(l_quantity AS BIGINT)",
        "price_cents" -> "CAST(floor(l_extendedprice * 100) AS BIGINT)",
        "disc_bp" -> "CAST(floor(l_discount * 10000) AS BIGINT)",
        "tax_bp" -> "CAST(floor(l_tax * 10000) AS BIGINT)")
      val names = vars.map(_._1)
      val exprOf = vars.toMap
      val pairs = for {
        i <- names.indices; j <- names.indices if i <= j
      } yield (names(i), names(j))
      val sumCols = vars.map { case (n, e) => s"sum($e) AS s_$n" } ++
        pairs.map { case (a, b) =>
          s"sum(CAST(${exprOf(a)} AS HUGEINT) * (${exprOf(b)})) AS p_${a}_$b"
        }
      val branches = pairs.map { case (a, b) =>
        val num = s"((CAST(n AS HUGEINT) * p_${a}_$b - " +
          s"CAST(s_$a AS HUGEINT) * s_$b) * 1)"
        val den = "nullif(CAST(n AS HUGEINT) * (n - 1), 0)"
        s"""SELECT '$a' AS var_x, '$b' AS var_y, n,
           |  CAST(s_$a AS BIGINT) AS sum_x, CAST(s_$b AS BIGINT) AS sum_y,
           |  CAST(($num - $num % $den) // $den AS BIGINT) AS cov FROM s"""
          .stripMargin
      }
      s"""WITH s AS (
         |  SELECT count(*) AS n, ${sumCols.mkString(",\n    ")}
         |  FROM lineitem)
         |${branches.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // exact heavy hitters: same ceil threshold, same truncating ppm share
    "a_heavy_hitters" ->
      """WITH tot AS (SELECT count(*) AS t FROM lineitem)
        |SELECT CAST(l_quantity AS BIGINT) AS value, count(*) AS n,
        |  CAST(floor(count(*) * 1000000.0 / t) AS BIGINT) AS share_ppm
        |FROM lineitem, tot
        |GROUP BY 1, t
        |HAVING count(*) >= CAST(ceil(0.02 * t) AS BIGINT)""".stripMargin,

    // the sketch runs in its no-eviction regime (distinct << k), where
    // Misra-Gries estimates equal true counts exactly
    "a_heavy_hitters_sketch" ->
      """SELECT l_returnflag AS value, count(*) AS est
        |FROM lineitem GROUP BY 1
        |ORDER BY est DESC, value LIMIT 9""".stripMargin,

    // identical total order inside each group, identical lower-median rank
    "a_exact_median" ->
      """SELECT l_returnflag, median_qty, n FROM (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS median_qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_quantity AS BIGINT), l_orderkey,
        |        l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |WHERE rn = (n + 1) // 2""".stripMargin,

    // percentile-rank twin: same total order, same integer ppm formula
    // (operands non-negative, so truncating // == div)
    "w_percentile_ranks" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, qty,
        |  CAST(CASE WHEN n = 1 THEN 0
        |       ELSE ((rn - 1) * 1000000) // (n - 1) END AS BIGINT)
        |    AS pct_ppm
        |FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_quantity AS BIGINT), l_orderkey,
        |        l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)""".stripMargin,

    // identical total order, identical nearest-rank selection
    // max(1, ceil(p*n/100)) in pure integer math; // truncates toward
    // zero, equal to the ceil-via-(+99) trick on all-positive operands
    "a_exact_percentiles" ->
      """SELECT l_returnflag, p, value, n FROM (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS value,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_quantity AS BIGINT), l_orderkey,
        |        l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem) r
        |CROSS JOIN (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT)),
        |  (CAST(99 AS BIGINT))) ps(p)
        |WHERE rn = greatest(1, (p * n + 99) // 100)""".stripMargin,

    // Benford twin: digit from the identical integer's decimal string,
    // identical ln-ratio expression and ppm rounding
    "dq_benford" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |d AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM v WHERE c > 0)
        |SELECT digit, count(*) AS n_obs,
        |  CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
        |    * 1000000) AS BIGINT) AS expected_ppm
        |FROM d GROUP BY 1""".stripMargin,

    // identical lower-median ranks for both the median and the MAD,
    // identical integer threshold compare — no float statistic anywhere
    "a_mad_outliers" ->
      """WITH v AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS value_cents
        |  FROM orders
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY value_cents, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM v
        |), med AS (
        |  SELECT o_orderpriority, value_cents AS med
        |  FROM r WHERE rn = (n + 1) // 2
        |), d AS (
        |  SELECT v.o_orderkey, v.o_orderpriority, v.value_cents, m.med,
        |    abs(v.value_cents - m.med) AS absdev
        |  FROM v JOIN med m USING (o_orderpriority)
        |), r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY absdev, value_cents, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM d
        |), mad AS (
        |  SELECT o_orderpriority, absdev AS mad
        |  FROM r2 WHERE rn = (n + 1) // 2
        |)
        |SELECT d.o_orderkey, d.o_orderpriority, d.value_cents, d.med,
        |  m.mad, CAST(d.absdev > 3 * m.mad AS BIGINT) AS is_outlier
        |FROM d JOIN mad m USING (o_orderpriority)""".stripMargin,

    // identical floor((x-lo)*buckets/(hi-lo)) cell math, last cell closed
    "a_histogram" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders),
        |st AS (SELECT min(x) AS lo, max(x) AS hi FROM v)
        |SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
        |  ELSE least(CAST(9 AS BIGINT),
        |    CAST(floor(CAST((x - lo) * 10 AS DOUBLE) / (hi - lo)) AS BIGINT))
        |  END AS bucket,
        |  count(*) AS n
        |FROM v, st GROUP BY 1""".stripMargin,

    // identical unit-cost levenshtein, identical length-band gate and
    // (distance, candidate) tiebreak
    "j_fuzzy_match" ->
      """WITH dirty AS (
        |  SELECT n_nationkey,
        |    regexp_replace(n_name, '[AEIOU]', '', 'g') AS dirty
        |  FROM nation),
        |cand AS (SELECT DISTINCT n_name AS c FROM nation),
        |best AS (
        |  SELECT d.n_nationkey, d.dirty, c.c,
        |    CAST(levenshtein(d.dirty, c.c) AS BIGINT) AS distance,
        |    row_number() OVER (PARTITION BY d.n_nationkey
        |      ORDER BY levenshtein(d.dirty, c.c), c.c) AS rn
        |  FROM dirty d, cand c
        |  WHERE abs(length(d.dirty) - length(c.c)) <= 6
        |    AND levenshtein(d.dirty, c.c) <= 6)
        |SELECT n_nationkey, dirty, c AS "match", distance
        |FROM best WHERE rn = 1""".stripMargin,

    // same u32 < floor(p * 2^32) integer compare, u32 from the md5 prefix
    "sample_weighted" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE ('0x' || substr(md5('wsamp' || CAST(doc_id AS VARCHAR)), 1, 8))
        |    ::BIGINT
        |  < CAST(floor(least(1.0, n_chars / 3000.0) * 4294967296.0)
        |    AS BIGINT)""".stripMargin,

    // split twin: cumulative-weight hex thresholds (8/10 -> 'cccccccc',
    // 9/10 -> 'e6666666' = Sampling.hexThreshold), last split is the
    // unconditional remainder — total coverage by construction
    "sample_splits" ->
      """SELECT doc_id, CASE
        |  WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
        |    < 'cccccccc' THEN 'train'
        |  WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
        |    < 'e6666666' THEN 'valid'
        |  ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    // leakage-safe twin: the dedup_clusters recursive closure gives each
    // clustered doc its component min-id representative; singletons
    // represent themselves; then the sample_splits md5 replay keys on the
    // representative
    "sample_splits_cluster_safe" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM pairs
         |), reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |), clus AS (
         |  SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS rep FROM reach
         |  GROUP BY 1
         |), reps AS (
         |  SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS rep_id
         |  FROM documents d LEFT JOIN clus c USING (doc_id))
         |SELECT doc_id, rep_id, CASE
         |  WHEN substr(md5('split' || CAST(rep_id AS VARCHAR)), 1, 8)
         |    < 'cccccccc' THEN 'train'
         |  WHEN substr(md5('split' || CAST(rep_id AS VARCHAR)), 1, 8)
         |    < 'e6666666' THEN 'valid'
         |  ELSE 'test' END AS split
         |FROM reps""".stripMargin,

    // token-budget twin: same md5 order + id tiebreak as the row cap,
    // exact integer exclusive running sum, crossing doc kept (< budget)
    "sample_token_budget" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |      AS BIGINT) AS n_tok,
        |    substr(md5('captok' || CAST(doc_id AS VARCHAR)), 1, 8) AS pfx
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |    coalesce(CAST(sum(n_tok) OVER (
        |      PARTITION BY source ORDER BY pfx, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS tok_before
        |  FROM tok)
        |SELECT doc_id, source, n_tok FROM c WHERE tok_before < 5000""".stripMargin,

    // per-group cap twin: identical md5-prefix order (hex compare is
    // lexicographic on both engines), identical id tiebreak
    "sample_cap_per_group" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 8),
        |             doc_id) AS rn
        |  FROM documents) WHERE rn <= 10""".stripMargin,

    // boilerplate twin: same trimmed-line split, same keep rules (registry
    // runs relaxed mode — no terminal-punct gate); DuckDB array_to_string
    // yields NULL on an empty list where Spark's array_join yields '' —
    // coalesce closes that
    "text_boilerplate" ->
      """WITH x AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)),
        |      l -> trim(l)), l -> l <> '') AS lines
        |  FROM documents
        |), y AS (
        |  SELECT doc_id, lines,
        |    list_filter(lines, l ->
        |      len(string_split_regex(l, '\s+')) >= 5
        |      AND NOT contains(lower(l), 'lorem ipsum')
        |      AND NOT contains(lower(l), 'javascript')
        |      AND NOT contains(lower(l), 'cookie')) AS kept
        |  FROM x)
        |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text
        |FROM y""".stripMargin,

    // chunk twin: stride 200 = 256 - 56; integer floor-div via //, substr
    // is code-point based in both engines; empty docs yield no rows
    "text_chunks" ->
      """WITH x AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_no,
        |  CAST(u.i * 200 AS BIGINT) AS start,
        |  substr(text, CAST(u.i * 200 + 1 AS INT), 256) AS chunk_text
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(list_transform(generate_series(0, (n - 1) // 200),
        |      i -> {'i': i})) AS u
        |  FROM x)""".stripMargin,

    // quartile twin: quantile_cont interpolates linearly like Spark's
    // exact percentile; .25-step fractions on integers are exact in
    // double, so both engines produce the same bits
    "text_length_quartiles" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(round(quantile_cont(n_chars, 0.25) * 100) AS BIGINT) AS p25_c,
        |  CAST(round(quantile_cont(n_chars, 0.5) * 100) AS BIGINT) AS p50_c,
        |  CAST(round(quantile_cont(n_chars, 0.75) * 100) AS BIGINT) AS p75_c
        |FROM documents GROUP BY 1""".stripMargin,

    // attribution twin: every (view, click) pair by the same user with
    // the click inside [view_ts, view_ts + 600s]
    "events_attribution" ->
      """SELECT c.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  v.ts AS view_ts, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |  AND c.ts <= v.ts + INTERVAL 600 SECOND""".stripMargin,

    "events_attribution_outer" ->
      """SELECT c.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  v.ts AS view_ts, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |  AND c.ts <= v.ts + INTERVAL 600 SECOND""".stripMargin,

    // word-4-gram overlap against the doc_id % 50 = 7 benchmark bucket;
    // slice bounds mirror GraftFunctions.shingles (i in 0..len-4, join " ")
    "decontaminate" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 4
        |    THEN list_transform(generate_series(0, len(t) - 4),
        |           i -> list_aggregate(t[i+1:i+4], 'string_agg', ' '))
        |    ELSE [] END) AS gram
        |  FROM base
        |), bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 7)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(count(DISTINCT g.gram) AS BIGINT) AS n_distinct_hits
        |FROM g JOIN bench USING (gram)
        |WHERE g.doc_id % 50 <> 7
        |GROUP BY 1""".stripMargin,

    "decontaminate_md5keys" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 4
        |    THEN list_transform(generate_series(0, len(t) - 4),
        |           i -> list_aggregate(t[i+1:i+4], 'string_agg', ' '))
        |    ELSE [] END) AS gram
        |  FROM base
        |), bench AS (
        |  SELECT DISTINCT substr(md5(gram), 1, 16) AS gk
        |  FROM g WHERE doc_id % 50 = 7
        |), ck AS (
        |  SELECT doc_id, substr(md5(gram), 1, 16) AS gk
        |  FROM g WHERE doc_id % 50 <> 7
        |)
        |SELECT ck.doc_id,
        |  CAST(count(DISTINCT ck.gk) AS BIGINT) AS n_distinct_hits
        |FROM ck JOIN bench USING (gk)
        |GROUP BY 1""".stripMargin,

    "decontaminate_verdict" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 4
        |    THEN list_transform(generate_series(0, len(t) - 4),
        |           i -> list_aggregate(t[i+1:i+4], 'string_agg', ' '))
        |    ELSE [] END) AS gram
        |  FROM base
        |), bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 7),
        |hits AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM g JOIN bench USING (gram)
        |  WHERE g.doc_id % 50 <> 7 GROUP BY 1)
        |SELECT b.doc_id,
        |  CAST(greatest(len(b.t) - 3, 0) AS BIGINT) AS n_grams,
        |  coalesce(h.n_hits, 0) AS n_hits,
        |  CAST(coalesce(h.n_hits, 0) * 100 >
        |    CAST(greatest(len(b.t) - 3, 0) AS BIGINT) * 10 AS BIGINT)
        |    AS contaminated
        |FROM base b LEFT JOIN hits h USING (doc_id)
        |WHERE b.doc_id % 50 <> 7""".stripMargin,

    // curation funnel: SQL twins of the four decision columns (quality,
    // repetition, pii, langid — same formulas as their report oracles),
    // first-fail attribution, then a 4-row literal funnel expansion
    "text_funnel" -> {
      val markers = TextAnalysis.markers
      val scoreCols = markers.map { case (lang, ws) =>
        ws.map(w => s"(CASE WHEN list_contains(dtoks, '$w') THEN 1 ELSE 0 END)")
          .mkString("(", " + ", s") AS score_$lang")
      }.mkString(",\n  ")
      val best = markers.map { case (l, _) => s"score_$l" }
        .mkString("greatest(", ", ", ")")
      val pred = markers.map { case (l, _) =>
        s"WHEN $best > 0 AND score_$l = $best THEN '$l'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      val e = TextAnalysis.emailRe
      val p = TextAnalysis.phoneRe
      s"""WITH base AS (
         |  SELECT doc_id, text, lang,
         |    string_split_regex(lower(trim(text)), '\\s+') AS t,
         |    list_distinct(string_split_regex(lower(trim(text)), '\\s+'))
         |      AS dtoks,
         |    list_transform(list_filter(string_split(text, chr(10)),
         |      x -> trim(x) <> ''), x -> trim(x)) AS lines
         |  FROM documents
         |), bg AS (
         |  SELECT doc_id,
         |    CASE WHEN len(t) >= 2
         |         THEN list_transform(range(len(t) - 1),
         |                i -> t[i+1] || ' ' || t[i+2])
         |         ELSE [] END AS bigrams
         |  FROM base
         |), mult AS (
         |  SELECT doc_id, max(c) AS top FROM (
         |    SELECT doc_id, g, count(*) AS c
         |    FROM (SELECT doc_id, unnest(bigrams) AS g FROM bg)
         |    GROUP BY 1, 2)
         |  GROUP BY 1
         |), scored AS (
         |  SELECT doc_id,
         |  $scoreCols
         |  FROM base
         |), ff AS (
         |  SELECT b.doc_id,
         |    CASE
         |      WHEN NOT (len(b.t) >= 10
         |        AND CAST(length(regexp_replace(b.text, '[^\\p{L}]', '', 'g'))
         |              AS DOUBLE) / len(b.t) >= 2.0
         |        AND length(regexp_replace(b.text, '[\\p{L}\\p{N}\\s]', '', 'g'))
         |              * 5 <= length(b.text)) THEN 0
         |      WHEN (len(b.lines) > 0
         |          AND (len(b.lines) - len(list_distinct(b.lines))) * 10
         |              > len(b.lines) * 3)
         |        OR (len(bg.bigrams) > 0
         |          AND coalesce(mult.top, 0) * 10 > len(bg.bigrams) * 2) THEN 1
         |      WHEN len(regexp_extract_all(b.text, '$e'))
         |        + len(regexp_extract_all(
         |            regexp_replace(b.text, '$e', '<EMAIL>', 'g'), '$p'))
         |        <> 0 THEN 2
         |      WHEN (CASE WHEN length(regexp_replace(b.text, '[^\\p{Han}]',
         |              '', 'g')) >= 3 THEN 'zh' ELSE $pred END) <> b.lang THEN 3
         |      ELSE 4 END AS ff
         |  FROM base b
         |  JOIN bg ON b.doc_id = bg.doc_id
         |  LEFT JOIN mult ON b.doc_id = mult.doc_id
         |  JOIN scored ON b.doc_id = scored.doc_id
         |), agg AS (
         |  SELECT count(*) AS n_total,
         |    sum(CASE WHEN ff = 0 THEN 1 ELSE 0 END) AS d0,
         |    sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS d1,
         |    sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS d2,
         |    sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS d3
         |  FROM ff)
         |SELECT CAST(1 AS BIGINT) AS stage_no, 'quality' AS stage,
         |  CAST(n_total AS BIGINT) AS n_in, CAST(d0 AS BIGINT) AS n_dropped,
         |  CAST(n_total - d0 AS BIGINT) AS n_out FROM agg
         |UNION ALL SELECT 2, 'repetition', CAST(n_total - d0 AS BIGINT),
         |  CAST(d1 AS BIGINT), CAST(n_total - d0 - d1 AS BIGINT) FROM agg
         |UNION ALL SELECT 3, 'pii', CAST(n_total - d0 - d1 AS BIGINT),
         |  CAST(d2 AS BIGINT), CAST(n_total - d0 - d1 - d2 AS BIGINT) FROM agg
         |UNION ALL SELECT 4, 'langid', CAST(n_total - d0 - d1 - d2 AS BIGINT),
         |  CAST(d3 AS BIGINT), CAST(n_total - d0 - d1 - d2 - d3 AS BIGINT)
         |  FROM agg""".stripMargin
    },

    // length-bucket padding waste: fixed power-of-two CASE chain; ppm via
    // HUGEINT (the engine's decimal(38,0)) — padded·10⁶ can pass int64
    "pack_length_buckets" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split_regex(lower(trim(text)), '\s+'))
        |    AS BIGINT) AS n_tokens
        |  FROM documents
        |), b AS (
        |  SELECT CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
        |              WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
        |              WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
        |              WHEN n_tokens <= 1024 THEN 1024
        |              WHEN n_tokens <= 2048 THEN 2048
        |              ELSE 4096 END AS bucket_cap,
        |         n_tokens
        |  FROM d
        |), g AS (
        |  SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
        |    count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |    CAST(max(n_tokens) AS BIGINT) AS max_tokens
        |  FROM b GROUP BY 1)
        |SELECT bucket_cap, n_docs, sum_tokens, max_tokens,
        |  n_docs * greatest(bucket_cap, max_tokens) - sum_tokens
        |    AS padded_tokens,
        |  CAST((n_docs * greatest(bucket_cap, max_tokens)
        |      - sum_tokens)::HUGEINT * 1000000
        |    // (n_docs * greatest(bucket_cap, max_tokens)) AS BIGINT)
        |    AS waste_ppm
        |FROM g""".stripMargin,

    // corpus-mix gap: actual token share vs the T=2 target share (ppm)
    "dq_mix_gap" ->
      """WITH g AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
        |      AS BIGINT) AS sum_tokens
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, sum_tokens,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS w_q
        |  FROM g
        |), t AS (
        |  SELECT CAST(sum(sum_tokens) AS BIGINT) AS tot,
        |    CAST(sum(w_q) AS BIGINT) AS wtot
        |  FROM w)
        |SELECT lang, n_docs, sum_tokens,
        |  CAST(sum_tokens::HUGEINT * 1000000 // tot AS BIGINT) AS actual_ppm,
        |  CAST(w_q::HUGEINT * 1000000 // wtot AS BIGINT) AS target_ppm,
        |  CAST(sum_tokens::HUGEINT * 1000000 // tot
        |    - w_q::HUGEINT * 1000000 // wtot AS BIGINT) AS gap_ppm
        |FROM w, t""".stripMargin,

    // length-bucketed packing plan: ranks via the same (bucket, doc_id)
    // order; all divisions over non-negatives (trunc == floor == //)
    "pack_bucketed" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split_regex(lower(trim(text)),
        |    '\s+')) AS BIGINT) AS n
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, n,
        |    CAST(CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
        |         WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
        |         WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |         WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048
        |         ELSE 4096 END AS BIGINT) AS bucket_cap
        |  FROM d
        |), r AS (
        |  SELECT bucket_cap, n,
        |    row_number() OVER (PARTITION BY bucket_cap ORDER BY doc_id)
        |      - 1 AS rnk
        |  FROM b
        |), s AS (
        |  SELECT bucket_cap, n,
        |    CAST(rnk // greatest(1, 4096 // bucket_cap) AS BIGINT)
        |      AS seq_id
        |  FROM r)
        |SELECT bucket_cap, seq_id, count(*) AS n_docs,
        |  CAST(sum(least(n, bucket_cap)) AS BIGINT) AS used_tokens,
        |  CAST(sum(greatest(n - bucket_cap, 0)) AS BIGINT)
        |    AS trunc_tokens,
        |  count(*) * bucket_cap
        |    - CAST(sum(least(n, bucket_cap)) AS BIGINT) AS padded_tokens
        |FROM s GROUP BY 1, 2""".stripMargin,

    // encoding-repair twin: GENERATED from the same MojibakePairs
    // dictionary the engine repairs with (single source of truth) —
    // the planted damage, the per-sequence count deltas, and the
    // longest-first replace cascade all rebuild in SQL, with chr()
    // encoding for characters a SQL literal can't carry readably
    // (C1 controls, NBSP, quotes)
    "text_fix_encoding" -> {
      import graft.functions.GraftFunctions.{MojibakePairs, mojibake}
      def sqlLit(s: String): String =
        if (s.nonEmpty &&
          s.forall(c => c >= 0x20 && c < 0x7f && c != '\''))
          s"'$s'"
        else s.map(c => s"chr(${c.toInt})").mkString("(", " || ", ")")
      def countExpr(colName: String): String = MojibakePairs.map {
        case (bad, _) =>
          s"(length($colName) - length(replace($colName, " +
            s"${sqlLit(bad)}, ''))) // ${bad.length}"
      }.mkString("(", " + ", ")")
      val fixedExpr = MojibakePairs.foldLeft("page") {
        case (e, (bad, good)) =>
          s"replace($e, ${sqlLit(bad)}, ${sqlLit(good)})"
      }
      val p0 = sqlLit(mojibake("café “menu” – à la carte…"))
      val p1 = sqlLit(mojibake("’s résumé «Señor» 30° • ça"))
      s"""WITH d2 AS (
         |  SELECT doc_id, text || ' ' ||
         |    (CASE WHEN doc_id % 4 = 0 THEN $p0
         |          WHEN doc_id % 4 = 1 THEN $p1
         |          ELSE 'clean tail' END) AS page
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, page, $fixedExpr AS fixed FROM d2)
         |SELECT doc_id,
         |  CAST(${countExpr("page")} AS BIGINT) AS n_bad,
         |  fixed,
         |  CAST(CASE WHEN ${countExpr("fixed")} = 0 THEN 1 ELSE 0 END
         |    AS BIGINT) AS repaired
         |FROM f""".stripMargin
    },

    // line-dedup twin: the 4-line fixture pages rebuild from doc_id +
    // text, hot lines are the > 10-distinct-doc exact contents, and the
    // reassembly is an order-pinned null-skipping string_agg (COALESCE
    // to '' so an all-lines-dropped page matches Spark's empty join)
    "text_line_dedup" ->
      """WITH d2 AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || chr(10) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'COOKIE NOTICE: we use cookies.'
        |          ELSE 'unique middle ' || doc_id END) || chr(10) ||
        |    'Follow variant ' || (doc_id % 5) || chr(10) ||
        |    'Tail ' || substr(text, 41, 40) AS page
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(page, chr(10)) AS l FROM d2),
        |ln AS (
        |  SELECT ls.doc_id, r.i AS pos, list_extract(ls.l, r.i + 1) AS line
        |  FROM ls CROSS JOIN range(0, 4) r(i)),
        |hot AS (
        |  SELECT line FROM ln WHERE trim(line) <> ''
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 10)
        |SELECT ln.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN hot.line IS NULL THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN hot.line IS NULL THEN ln.line END,
        |    chr(10) ORDER BY ln.pos), '') AS clean_text
        |FROM ln LEFT JOIN hot ON ln.line = hot.line
        |GROUP BY 1""".stripMargin,

    // URL dedup twin: fixture URLs rebuild from doc_id, then the same
    // canonicalization — anchored regexes (single-match, so DuckDB's
    // first-match regexp_replace equals Spark's replace-all), list
    // filter/sort/join for the query params (ASCII, binary sort order
    // agrees), group on the canonical key
    "text_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) ||
        |    '://Example' || (doc_id % 7) || '.COM' ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':80'
        |          WHEN doc_id % 4 = 1 THEN ':443'
        |          WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END) ||
        |    '/a/' || (doc_id % 5) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    '?utm_source=x&b=' || (doc_id % 3) || '&a=1' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |p2 AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        |  FROM u),
        |p4 AS (
        |  SELECT doc_id, scheme,
        |    lower(regexp_extract(regexp_extract(rest, '^([^/?]*)', 1),
        |      '^([^:]*)', 1)) AS host,
        |    regexp_extract(regexp_extract(rest, '^([^/?]*)', 1),
        |      ':(\d+)$', 1) AS port,
        |    regexp_extract(regexp_replace(rest, '^[^/?]*', ''),
        |      '^([^?]*)', 1) AS path,
        |    regexp_extract(regexp_replace(rest, '^[^/?]*', ''),
        |      '\?(.*)$', 1) AS query
        |  FROM p2),
        |p5 AS (
        |  SELECT doc_id, scheme, host,
        |    CASE WHEN port = '' THEN ''
        |         WHEN scheme = 'http' AND port = '80' THEN ''
        |         WHEN scheme = 'https' AND port = '443' THEN ''
        |         ELSE ':' || port END AS nport,
        |    CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(path, '/+$', '') END AS npath,
        |    array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      p -> p <> '' AND NOT starts_with(p, 'utm_')
        |        AND NOT starts_with(p, 'fbclid=')
        |        AND NOT starts_with(p, 'gclid='))), '&') AS q
        |  FROM p4)
        |SELECT scheme || '://' || host || nport || npath ||
        |  CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url,
        |  CAST(count(*) AS BIGINT) AS n_dups,
        |  CAST(min(doc_id) AS BIGINT) AS keeper
        |FROM p5 GROUP BY 1""".stripMargin,

    // Zipf fit: ln-ln least squares over the top-300 rank-frequency
    // curve; numerator/denominator non-negative (rank-decreasing), so
    // // == div; micro-nat ln quantization per term. n >= 2 guard on
    // BOTH sides: a <=1-type corpus zeroes the denominator (Spark div
    // -> NULL, DuckDB // -> error) — both engines emit no row instead
    "lm_zipf_fit" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |    AS tok
        |  FROM documents
        |), c AS (
        |  SELECT tok, count(*) AS cnt FROM t
        |  WHERE length(tok) > 0 GROUP BY 1
        |), top AS (
        |  SELECT tok, cnt FROM c ORDER BY cnt DESC, tok ASC LIMIT 300
        |), r AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC)
        |    AS rank
        |  FROM top
        |), q AS (
        |  SELECT CAST(round(ln(rank) * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(cnt) * 1e6) AS BIGINT) AS y
        |  FROM r
        |), s AS (
        |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy
        |  FROM q)
        |SELECT n AS n_types,
        |  CAST((sx::HUGEINT * sy - n * sxy) * 1000000
        |    // (n::HUGEINT * sxx - sx::HUGEINT * sx) AS BIGINT)
        |    AS zipf_exp_ppm
        |FROM s WHERE n >= 2""".stripMargin,

    // Heaps-law curve: a type's slice = min slice over its occurrences;
    // slices rebase on min(doc_id) (the engine's observed-span contract)
    "lm_vocab_growth" ->
      """WITH m AS (SELECT CAST(min(doc_id) AS BIGINT) AS mn,
        |                  CAST(max(doc_id) AS BIGINT) AS mx
        |           FROM documents),
        |t AS (
        |  SELECT least(9,
        |      (CAST(doc_id AS BIGINT) - mn) * 10 // (mx - mn + 1))
        |      AS slice,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents, m
        |), tt AS (SELECT slice, tok FROM t WHERE length(tok) > 0),
        |ty AS (SELECT tok, min(slice) AS slice FROM tt GROUP BY 1),
        |nt AS (SELECT slice, count(*) AS new_types FROM ty GROUP BY 1),
        |oc AS (SELECT slice, count(*) AS n_tokens FROM tt GROUP BY 1)
        |SELECT slice,
        |  CAST(COALESCE(new_types, 0) AS BIGINT) AS new_types,
        |  CAST(sum(COALESCE(new_types, 0)) OVER (ORDER BY slice)
        |    AS BIGINT) AS cum_types,
        |  CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(sum(COALESCE(n_tokens, 0)) OVER (ORDER BY slice)
        |    AS BIGINT) AS cum_tokens
        |FROM nt FULL OUTER JOIN oc USING (slice)""".stripMargin,

    // per-source unigram KL vs the corpus over top-300 vocab + OOV cell;
    // micro-nat ln quantization (round(ln(int)*1e6)); the mean replays
    // Spark's trunc-toward-zero div with a sign split (kl can quantize
    // to a small negative)
    "lm_source_divergence" ->
      """WITH t AS (
        |  SELECT source,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |), tt AS (SELECT source, tok FROM t WHERE length(tok) > 0),
        |v AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS c FROM tt GROUP BY 1
        |    ORDER BY c DESC, tok ASC LIMIT 300)
        |), c AS (
        |  SELECT source,
        |    CASE WHEN v.tok IS NOT NULL THEN tt.tok ELSE ' oov' END AS cell
        |  FROM tt LEFT JOIN v ON tt.tok = v.tok
        |), bs AS (
        |  SELECT source, cell, count(*) AS s_cnt FROM c GROUP BY 1, 2
        |), co AS (SELECT cell, CAST(sum(s_cnt) AS BIGINT) AS c_cnt
        |          FROM bs GROUP BY 1),
        |ct AS (SELECT CAST(sum(c_cnt) AS BIGINT) AS c_tot FROM co),
        |st AS (SELECT source, CAST(sum(s_cnt) AS BIGINT) AS s_tot
        |       FROM bs GROUP BY 1),
        |agg AS (
        |  SELECT bs.source, max(st.s_tot) AS n_tokens,
        |    count(*) AS n_cells,
        |    CAST(sum(s_cnt::HUGEINT *
        |      (CAST(round(ln(s_cnt) * 1e6) AS BIGINT)
        |       - CAST(round(ln(s_tot) * 1e6) AS BIGINT)
        |       - CAST(round(ln(c_cnt) * 1e6) AS BIGINT)
        |       + CAST(round(ln(c_tot) * 1e6) AS BIGINT))) AS BIGINT)
        |      AS kl_micro
        |  FROM bs JOIN co USING (cell) JOIN st USING (source)
        |    CROSS JOIN ct
        |  GROUP BY 1)
        |SELECT source, n_tokens, n_cells, kl_micro,
        |  CASE WHEN kl_micro >= 0 THEN kl_micro // n_tokens
        |       ELSE -((-kl_micro) // n_tokens) END AS kl_mean_micro
        |FROM agg""".stripMargin,

    "pack_batches" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, n_tokens,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
        |    AS BIGINT) AS batch_id
        |FROM d""".stripMargin,

    // materialized-packs twin: same batch assignment, then string_agg in
    // doc_id order with the RS separator (chr(30) == Spark's "\\u001e");
    // sums cast to BIGINT (DuckDB would widen to HUGEINT)
    "pack_materialize" ->
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, text, n_tokens,
        |    CAST(floor(coalesce(sum(n_tokens) OVER (
        |        PARTITION BY source ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
        |      AS BIGINT) AS batch_id
        |  FROM d)
        |SELECT source, batch_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  string_agg(text, chr(30) ORDER BY doc_id) AS batch_text
        |FROM p GROUP BY source, batch_id""".stripMargin,

    "text_pii_scrub" -> {
      val e = TextAnalysis.emailRe
      val p = TextAnalysis.phoneRe
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(text, '$e', '<EMAIL>', 'g'), '$p'))
         |    AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(text, '$e', '<EMAIL>', 'g'),
         |    '$p', '<PHONE>', 'g') AS redacted
         |FROM documents""".stripMargin
    },

    // full fit+classify replay of the char-n-gram language classifier:
    // space-padded lowercase code-point n-grams (k=1..3), top-300 grams
    // per language, log-probs quantized to integer micro-nats, BIGINT
    // argmax with ties toward the lexicographically greater language —
    // every compared value is integer/string, so the hash is exact
    "text_language_profile" ->
      """WITH padded AS (
        |  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents
        |), grams AS (
        |  -- all code-point n-grams k=1..3 over the padded text; all-space
        |  -- grams are skipped (they'd match any profile) — same rule as
        |  -- the engine's char_ngram_counts expression. list_transform
        |  -- sidesteps DuckDB 1.0's lateral-generate_series limitation.
        |  SELECT doc_id, lang, g, count(*) AS cnt
        |  FROM (
        |    SELECT doc_id, lang, unnest(flatten([
        |      list_transform(generate_series(1, len(p)),     i -> substr(p, i, 1)),
        |      list_transform(generate_series(1, len(p) - 1), i -> substr(p, i, 2)),
        |      list_transform(generate_series(1, len(p) - 2), i -> substr(p, i, 3))
        |    ])) AS g
        |    FROM padded
        |  )
        |  WHERE trim(g) <> ''
        |  GROUP BY 1, 2, 3
        |), langcnt AS (
        |  SELECT lang, g, sum(cnt) AS cnt FROM grams GROUP BY 1, 2
        |), topg AS (
        |  SELECT lang, g, cnt, row_number() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, g ASC) AS rn
        |  FROM langcnt
        |), prof0 AS (SELECT lang, g, cnt FROM topg WHERE rn <= 300
        |), tot AS (SELECT lang, sum(cnt) AS tot FROM prof0 GROUP BY 1
        |), prof AS (
        |  SELECT p.lang, p.g,
        |    CAST(round(ln(p.cnt / t.tot) * 1000000) AS BIGINT) AS logp_q
        |  FROM prof0 p JOIN tot t USING (lang)
        |), ngrams AS (
        |  SELECT doc_id, sum(cnt) AS n_grams FROM grams GROUP BY 1
        |), matched AS (
        |  SELECT g2.doc_id, prof.lang,
        |    sum(prof.logp_q * g2.cnt) AS logp_sum_q,
        |    sum(g2.cnt) AS n_match
        |  FROM grams g2 JOIN prof USING (g)
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT m.doc_id, m.lang,
        |    m.logp_sum_q + (n.n_grams - m.n_match) * (-12000000) AS score_q
        |  FROM matched m JOIN ngrams n USING (doc_id)
        |), best AS (
        |  SELECT doc_id, lang, score_q, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_q DESC, lang DESC) AS rn
        |  FROM scored
        |)
        |SELECT d.doc_id,
        |  coalesce(b.lang, 'und') AS lang_profile,
        |  CAST(b.score_q AS BIGINT) AS lang_score_q
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)""".stripMargin,

    // Frame sampling is deterministic byte slicing, so DuckDB can replay it
    // over the hex transcription (v1.0 has no BLOB substring; hex() is
    // uppercase on both engines). floor() mirrors Spark's truncating int
    // cast — DuckDB's plain double->int cast rounds. Byte offset p maps to
    // hex offset 2(p-1)+1, 16 bytes to 32 hex chars.
    "mm_frames" ->
      """WITH b AS (
        |  SELECT doc_id, encode(text) AS payload FROM documents
        |), f AS (
        |  SELECT doc_id, payload,
        |    CAST(octet_length(payload) AS INT) AS n_bytes,
        |    UNNEST([0, 1, 2]) AS frame_no
        |  FROM b)
        |SELECT doc_id, n_bytes, frame_no,
        |  CAST(floor(frame_no * greatest(n_bytes - 16, 1) / 3) AS INT) + 1
        |    AS "offset",
        |  substring(hex(payload),
        |    CAST(floor(frame_no * greatest(n_bytes - 16, 1) / 3) AS INT) * 2
        |      + 1, 32) AS frame_hex
        |FROM f""".stripMargin,

    // ---------- model-eval metrics: exact-integer replays ----------
    // Mann–Whitney AUC with midrank tie handling, replayed cell-for-cell:
    // the numerator Σ⁺2·mid − n⁺(n⁺+1) is provably nonnegative, so
    // DuckDB's flooring // and Spark's truncating div agree
    "ml_auc_folds" ->
      """WITH base AS (
        |  SELECT doc_id % 3 AS fold,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    n_chars AS s
        |  FROM documents
        |), cells AS (
        |  SELECT fold, s, count(*) AS c, sum(y) AS p
        |  FROM base GROUP BY 1, 2
        |), cum AS (
        |  SELECT fold, c, p,
        |    sum(c) OVER (PARTITION BY fold ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |  FROM cells
        |), agg AS (
        |  SELECT fold, sum(p) AS np, sum(c) - sum(p) AS nn,
        |    sum(p * (2 * (cm - c) + c + 1)) AS s2
        |  FROM cum GROUP BY 1
        |)
        |SELECT CAST(fold AS BIGINT) AS fold, CAST(np AS BIGINT) AS n_pos,
        |  CAST(nn AS BIGINT) AS n_neg,
        |  CAST(((s2 - np * (np + 1)) * 1000000)
        |    // nullif(2 * np * nn, 0) AS BIGINT) AS auc_ppm
        |FROM agg""".stripMargin,

    "ml_confusion_folds" ->
      """WITH base AS (
        |  SELECT doc_id % 3 AS fold,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS yhat
        |  FROM documents
        |), m AS (
        |  SELECT fold,
        |    sum(y * yhat) AS tp, sum((1 - y) * yhat) AS fp,
        |    sum(y * (1 - yhat)) AS fn, sum((1 - y) * (1 - yhat)) AS tn
        |  FROM base GROUP BY 1
        |)
        |SELECT CAST(fold AS BIGINT) AS fold,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
        |  CAST((tp * 1000000) // nullif(tp + fp, 0) AS BIGINT)
        |    AS precision_ppm,
        |  CAST((tp * 1000000) // nullif(tp + fn, 0) AS BIGINT)
        |    AS recall_ppm,
        |  CAST((tp * 2000000) // nullif(2 * tp + fp + fn, 0) AS BIGINT)
        |    AS f1_ppm
        |FROM m""".stripMargin,

    // equal-width bins with edge clamp; // vs div disagree only below
    // lo, where the greatest(0, _) clamp makes them equal
    "ml_calibration" ->
      """WITH base AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    n_chars AS s,
        |    least(9, greatest(0, (n_chars * 10) // 550)) AS bin
        |  FROM documents
        |), m AS (
        |  SELECT bin, count(*) AS n, sum(y) AS n_pos, sum(s) AS ss
        |  FROM base GROUP BY 1
        |)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
        |  CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST((n_pos * 1000000) // n AS BIGINT) AS pos_ppm,
        |  CAST((ss * 1000000) // (n * 550) AS BIGINT) AS pred_ppm
        |FROM m""".stripMargin,

    // kappa can be negative: both sides spell the division (x − x%y)/y,
    // which truncates toward zero identically in Spark and DuckDB (% takes
    // the dividend's sign in both)
    "ml_cohens_kappa" ->
      """WITH base AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r1,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS r2
        |  FROM documents
        |), m AS (
        |  SELECT count(*) AS n,
        |    sum(r1 * r2) AS a, sum(r1 * (1 - r2)) AS b,
        |    sum((1 - r1) * r2) AS cc, sum((1 - r1) * (1 - r2)) AS d
        |  FROM base
        |), k AS (
        |  SELECT n, a + d AS n_agree,
        |    ((a + d) * 1000000) // n AS po_ppm,
        |    (((a + b) * (a + cc) + (cc + d) * (b + d)) * 1000000)
        |      // (n * n) AS pe_ppm,
        |    (n * (a + d) - ((a + b) * (a + cc) + (cc + d) * (b + d)))
        |      * 1000000 AS knum,
        |    nullif(n * n - ((a + b) * (a + cc) + (cc + d) * (b + d)), 0)
        |      AS kden
        |  FROM m
        |)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n_agree AS BIGINT) AS n_agree,
        |  CAST(po_ppm AS BIGINT) AS po_ppm, CAST(pe_ppm AS BIGINT) AS pe_ppm,
        |  CAST((knum - knum % kden) // kden AS BIGINT) AS kappa_ppm
        |FROM k""".stripMargin,

    // ascending-rank Gini: numerator 2Σi·xᵢ − (n+1)Σx is nonnegative for
    // the ascending order, so // and div agree
    "ml_gini_revenue" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x
        |  FROM orders GROUP BY 1
        |), seq AS (
        |  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM per
        |), a AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six FROM seq
        |)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS total,
        |  CAST(((2 * six - (n + 1) * sx) * 1000000)
        |    // nullif(n * sx, 0) AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin,

    "ml_pr_curve" ->
      """WITH base AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    n_chars AS s
        |  FROM documents
        |), cells AS (
        |  SELECT s, count(*) AS c, sum(y) AS p FROM base GROUP BY 1
        |), cum AS (
        |  SELECT s, c, p,
        |    sum(c) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    sum(p) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
        |    sum(p) OVER () AS all_tp
        |  FROM cells
        |)
        |SELECT CAST(s AS BIGINT) AS threshold,
        |  CAST(cum_tp AS BIGINT) AS tp,
        |  CAST(cum_n - cum_tp AS BIGINT) AS fp,
        |  CAST((cum_tp * 1000000) // cum_n AS BIGINT) AS precision_ppm,
        |  CAST((cum_tp * 1000000) // nullif(all_tp, 0) AS BIGINT)
        |    AS recall_ppm
        |FROM cum""".stripMargin,

    // Fleiss-kappa twin: same three-level aggregation (cells -> category
    // marginals -> one row); kappa can be negative -> (x - x%y) // y
    "ml_fleiss_kappa" ->
      """WITH r AS (
        |  SELECT l_orderkey, l_returnflag FROM lineitem
        |  WHERE l_orderkey IN (
        |    SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(*) = 4)
        |), cells AS (
        |  SELECT l_orderkey, l_returnflag, count(*) AS nij
        |  FROM r GROUP BY 1, 2
        |), cats AS (
        |  SELECT l_returnflag, sum(nij) AS cj, sum(nij * nij) AS sj
        |  FROM cells GROUP BY 1
        |), g AS (
        |  SELECT CAST(sum(cj) AS HUGEINT) AS t,
        |    CAST(sum(sj) AS HUGEINT) AS s,
        |    CAST(sum(CAST(cj AS HUGEINT) * cj) AS HUGEINT) AS c2
        |  FROM cats)
        |SELECT CAST(t // 4 AS BIGINT) AS n_items,
        |  CAST(4 AS BIGINT) AS n_raters,
        |  CAST(((s - t) * 1000000) // (t * 3) AS BIGINT) AS pbar_ppm,
        |  CAST((c2 * 1000000) // (t * t) AS BIGINT) AS pe_ppm,
        |  CAST(((((s - t) * t - c2 * 3) * 1000000)
        |      - (((s - t) * t - c2 * 3) * 1000000)
        |        % nullif(3 * (t * t - c2), 0))
        |    // nullif(3 * (t * t - c2), 0) AS BIGINT) AS kappa_ppm
        |FROM g""".stripMargin,

    // Poisson-bootstrap twin: the same 5-uniforms-per-digest harvest —
    // replicate b*5+s+1 reads slot s of md5('boot:id:b') — against the
    // same pinned CDF thresholds, same truncating per-rep mean and the
    // same rank picks (3/50/98 of 100, ties by rep)
    "ml_bootstrap_ci" ->
      """WITH w AS (
        |  SELECT b.range * 5 + s.range + 1 AS rep,
        |    substr(md5('boot:' || CAST(o_orderkey AS VARCHAR) || ':'
        |      || CAST(b.range AS VARCHAR)), s.range * 6 + 1, 6) AS u,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders, range(20) b, range(5) s
        |), wt AS (
        |  SELECT rep, cents,
        |    CASE WHEN u < '5e2d58' THEN 0 WHEN u < 'bc5ab1' THEN 1
        |         WHEN u < 'eb715e' THEN 2 WHEN u < 'fb2397' THEN 3
        |         WHEN u < 'ff1025' THEN 4 WHEN u < 'ffd90f' THEN 5
        |         WHEN u < 'fffa8b' THEN 6 ELSE 7 END AS w
        |  FROM w
        |), m AS (
        |  SELECT rep,
        |    CAST(sum(CAST(w AS HUGEINT) * cents)
        |      // nullif(sum(w), 0) AS BIGINT) AS m
        |  FROM wt GROUP BY 1
        |), rk AS (
        |  SELECT m, row_number() OVER (ORDER BY m, rep) AS rn FROM m
        |), ci AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_reps,
        |    CAST(max(CASE WHEN rn = 3 THEN m END) AS BIGINT) AS lo,
        |    CAST(max(CASE WHEN rn = 50 THEN m END) AS BIGINT) AS med,
        |    CAST(max(CASE WHEN rn = 98 THEN m END) AS BIGINT) AS hi
        |  FROM rk
        |), pt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS HUGEINT))
        |      // count(*) AS BIGINT) AS mean
        |  FROM orders)
        |SELECT n, mean, n_reps, lo, med, hi FROM pt, ci""".stripMargin,

    // KS twin: same tie cells, same denominator-cleared distance and
    // the same packed-max argmax (lowest score on ties)
    "ml_ks_statistic" ->
      """WITH base AS (
        |  SELECT lang,
        |    CASE WHEN CAST(substr(source, 4) AS BIGINT) < 10
        |      THEN 1 ELSE 0 END AS y,
        |    n_chars AS score
        |  FROM documents
        |), cells AS (
        |  SELECT lang, score, count(*) AS c, sum(y) AS p
        |  FROM base GROUP BY 1, 2
        |), cum AS (
        |  SELECT lang, score,
        |    sum(p) OVER (PARTITION BY lang ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    sum(c - p) OVER (PARTITION BY lang ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
        |    sum(p) OVER (PARTITION BY lang) AS n1,
        |    sum(c - p) OVER (PARTITION BY lang) AS n0
        |  FROM cells
        |), packed AS (
        |  SELECT lang, n1, n0,
        |    abs(CAST(cum1 AS HUGEINT) * n0 - CAST(cum0 AS HUGEINT) * n1)
        |      * 10000000 + (9999999 - score) AS pack
        |  FROM cum)
        |SELECT lang, CAST(max(n1) AS BIGINT) AS n_pos,
        |  CAST(max(n0) AS BIGINT) AS n_neg,
        |  CAST(9999999 - max(pack) % 10000000 AS BIGINT) AS ks_at_score,
        |  CAST((max(pack) // 10000000) * 1000000
        |    // nullif(CAST(max(n1) AS HUGEINT) * max(n0), 0) AS BIGINT)
        |    AS ks_ppm
        |FROM packed GROUP BY 1""".stripMargin,

    // nDCG twin: identical pinned floor(1e6/log2(k+1)) discount list,
    // 1-based list indexing, same two rankings and tie-breaks
    "ml_ndcg" -> {
      val lits = graft.operators.EvalMetrics.ndcgDiscountPpm
        .mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(substr(source, 4) AS BIGINT) % 4 AS rel
         |  FROM documents
         |), rk AS (
         |  SELECT lang, rel,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY n_chars DESC, doc_id) AS rs,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY rel DESC, n_chars DESC, doc_id) AS ri
         |  FROM base
         |), terms AS (
         |  SELECT lang, rel,
         |    CASE WHEN rs <= 10 THEN rel * ($lits[rs]) ELSE 0 END AS dt,
         |    CASE WHEN ri <= 10 THEN rel * ($lits[ri]) ELSE 0 END AS it
         |  FROM rk)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(dt) AS BIGINT) AS dcg_ppm,
         |  CAST(sum(it) AS BIGINT) AS idcg_ppm,
         |  CAST((CAST(sum(dt) AS HUGEINT) * 1000000)
         |    // nullif(sum(it), 0) AS BIGINT) AS ndcg_ppm
         |FROM terms GROUP BY 1""".stripMargin
    },

    // Fellegi-Sunter twin: same blocked pairs, same pinned milli
    // log-odds per agreement CASE, same three-way banding
    "ml_record_linkage" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey AS nk,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS c_cents
        |  FROM customer
        |), s AS (
        |  SELECT s_suppkey, s_nationkey AS nk,
        |    CAST(floor(s_acctbal * 100) AS BIGINT) AS s_cents
        |  FROM supplier
        |), sc AS (
        |  SELECT
        |    CASE WHEN abs(c_cents - s_cents) <= 10000
        |      THEN 2800 ELSE -150 END
        |    + CASE WHEN c_custkey % 100 = s_suppkey % 100
        |      THEN 1200 ELSE -300 END
        |    + CASE WHEN (c_cents >= 0) = (s_cents >= 0)
        |      THEN 900 ELSE -400 END AS score
        |  FROM c JOIN s USING (nk))
        |SELECT CASE WHEN score >= 3000 THEN 'match'
        |            WHEN score >= 0 THEN 'possible'
        |            ELSE 'nonmatch' END AS band,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(score) AS BIGINT) AS max_score
        |FROM sc GROUP BY 1""".stripMargin,

    // Keyed snapshot diff: full outer join on the key, null-safe column
    // compare (IS DISTINCT FROM = Spark's <=> negated), unchanged keys drop
    // upsert twin: anti-join + union replay
    "cdc_upsert" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |    o_orderstatus
        |  FROM orders
        |), base AS (
        |  SELECT * FROM o WHERE o_orderkey % 10 <> 7
        |), upd AS (
        |  SELECT o_orderkey, price_cents + 100 AS price_cents, o_orderstatus
        |  FROM o WHERE o_orderkey % 5 = 0 OR o_orderkey % 10 = 7
        |)
        |SELECT * FROM base
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |UNION ALL SELECT * FROM upd""".stripMargin,

    "cdc_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |    o_orderstatus
        |  FROM orders
        |), prev AS (SELECT * FROM o WHERE o_orderkey % 10 <> 7),
        |next AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN price_cents + 100
        |         ELSE price_cents END AS price_cents,
        |    o_orderstatus
        |  FROM o WHERE o_orderkey % 10 <> 3)
        |SELECT coalesce(p.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN p.o_orderkey IS NULL THEN 'I'
        |       WHEN n.o_orderkey IS NULL THEN 'D'
        |       ELSE 'U' END AS change_type,
        |  p.price_cents AS old_price_cents,
        |  n.price_cents AS new_price_cents,
        |  p.o_orderstatus AS old_o_orderstatus,
        |  n.o_orderstatus AS new_o_orderstatus
        |FROM prev p FULL OUTER JOIN next n ON p.o_orderkey = n.o_orderkey
        |WHERE p.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR p.price_cents IS DISTINCT FROM n.price_cents
        |   OR p.o_orderstatus IS DISTINCT FROM n.o_orderstatus""".stripMargin,

    // The oracle RECOMPUTES the aggregate from scratch over the next
    // snapshot; the Spark side merges deltas into the previous aggregate —
    // a green hash proves the incremental path exact
    "cdc_incremental_agg" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |    o_orderstatus
        |  FROM orders
        |), next AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN price_cents + 100
        |         ELSE price_cents END AS price_cents,
        |    o_orderstatus
        |  FROM o WHERE o_orderkey % 10 <> 3)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
        |FROM next GROUP BY 1""".stripMargin,

    "a_latest_per_key" ->
      """SELECT o_custkey, day AS last_day, o_orderkey AS last_orderkey,
        |  price_cents AS last_price_cents
        |FROM (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS day,
        |    o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1""".stripMargin,

    "a_pivot" ->
      """SELECT l_returnflag,
        |  coalesce(CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END)
        |    AS BIGINT), 0) AS cents_f,
        |  coalesce(CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END)
        |    AS BIGINT), 0) AS cents_o
        |FROM lineitem GROUP BY 1""".stripMargin,

    "a_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    coalesce(CAST(sum(CASE WHEN l_linestatus = 'F'
        |      THEN CAST(round(l_extendedprice * 100) AS BIGINT) END)
        |      AS BIGINT), 0) AS cents_f,
        |    coalesce(CAST(sum(CASE WHEN l_linestatus = 'O'
        |      THEN CAST(round(l_extendedprice * 100) AS BIGINT) END)
        |      AS BIGINT), 0) AS cents_o
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'F' AS l_linestatus, cents_f AS cents FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'O' AS l_linestatus, cents_o AS cents FROM wide""".stripMargin,

    "a_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
        |    AS BIGINT) AS gid,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))""".stripMargin,

    "w_value_functions" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |    AS BIGINT) AS day,
        |  first_value(o_orderkey) OVER wf AS first_orderkey,
        |  nth_value(o_orderkey, 2) OVER wf AS second_orderkey,
        |  CAST(round(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_e6
        |FROM orders
        |WINDOW
        |  w AS (PARTITION BY o_custkey
        |        ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
        |  wf AS (PARTITION BY o_custkey
        |         ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    // The backup chain only preserves states; the as-of-middle read IS the
    // middle state's derivation
    "s_timetravel" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderkey % 3 <= 1""".stripMargin,

    // Compaction rewrites files, never rows
    "s_compaction" ->
      """SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM lineitem GROUP BY 1""".stripMargin,

    // The generation pointer only selects WHICH committed state is
    // visible; the last published generation is the full-table
    // derivation, replayed here
    "s_generation_publish" ->
      """SELECT 'by_flag' AS tbl, l_returnflag AS k,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS v
        |FROM lineitem GROUP BY 2
        |UNION ALL
        |SELECT 'by_status', o_orderstatus,
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM orders GROUP BY 2""".stripMargin,

    // The fold is associative-exact, so the final generation IS the
    // one-shot derivation; the cross join replays the two-table read
    "s_generation_stream" ->
      """WITH bg AS (
        |  SELECT o_orderstatus AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS s
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(sum(s) AS BIGINT) AS s_total
        |  FROM bg)
        |SELECT g, n, s, n_groups, n_rows, s_total
        |FROM bg CROSS JOIN t""".stripMargin,

    // Bucket pruning only skips files that can't hold the key
    "s_bucket_lookup" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  min(o_orderkey) AS first_order, max(o_orderkey) AS last_order
        |FROM orders WHERE o_custkey = 371 GROUP BY 1""".stripMargin,

    // Salting never changes join results — the oracle is the PLAIN join
    // over the same synthesized hot-key union
    "j_skew_salted" ->
      """WITH li AS (
        |  SELECT l_orderkey, CAST(round(l_extendedprice * 100) AS BIGINT)
        |    AS pc
        |  FROM lineitem),
        |big AS (
        |  SELECT * FROM li
        |  UNION ALL
        |  SELECT li.* FROM li, range(20) WHERE l_orderkey < 100)
        |SELECT b.l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(b.pc) AS BIGINT) AS sum_cents
        |FROM big b JOIN orders o ON o.o_orderkey = b.l_orderkey
        |GROUP BY 1""".stripMargin,

    // The layout only reorders rows; the oracle filters the raw table
    "s_zorder_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  coalesce(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT), 0) AS sum_cents
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 500
        |  AND date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      BETWEEN 1000 AND 1400""".stripMargin,

    // Manifest-skipping twin: footer-based file pruning only drops files
    // with provably no matching l_orderkey — replay the plain filter
    "s_manifest_skipping" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  coalesce(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT), 0)
        |    AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 5000 AND 5999""".stripMargin,

    // bloom-skipping twin: no false negatives means pruning is pure
    // I/O avoidance — the result is the plain point-lookup aggregate
    "s_bloom_skipping" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  coalesce(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT), 0)
        |    AS sum_qty,
        |  coalesce(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT), 0) AS price_cents
        |FROM lineitem
        |WHERE l_orderkey = 515""".stripMargin,

    // evolved-schema twin: generation membership replayed by the same
    // key parity; pre-evolution rows carry the NULL-backfill label
    "s_evolved_schema_scan" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
        |            ELSE o_orderpriority END AS priority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders GROUP BY 1""".stripMargin,

    // Balanced-layout twin: directory pruning is IO-only, so the replay
    // is the plain filtered aggregate on the same cents quantization
    "s_balanced_layout" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem
        |WHERE CAST(round(l_extendedprice * 100) AS BIGINT)
        |  BETWEEN 100000 AND 2000000
        |GROUP BY 1""".stripMargin,

    // Merge-on-read twin: tombstones remove exactly the keyed rows —
    // replay as the plain filtered aggregate
    "s_mor_deletes" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders
        |WHERE o_orderkey % 10 != 3 AND o_orderkey % 100 != 57
        |GROUP BY 1""".stripMargin,

    // DPP twin: partition pruning never changes results — replay the raw
    // lineitem⋈supplier⋈nation joins with the region filter
    "s_dpp_scan" ->
      """SELECT n_name, count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey = 2
        |GROUP BY 1""".stripMargin,

    // Rolling-window sums replayed with the same frame; the anomaly flag
    // is the same integer cross-multiplication on both sides
    "events_anomaly" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT event_id, user_id, v,
        |    count(*) OVER w AS n_prev,
        |    coalesce(CAST(sum(v) OVER w AS BIGINT), 0) AS sum_prev,
        |    coalesce(CAST(sum(v * v) OVER w AS BIGINT), 0) AS sumsq_prev
        |  FROM p
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, v AS value_cents,
        |  CAST(n_prev AS BIGINT) AS n_prev, sum_prev, sumsq_prev,
        |  CAST((v * n_prev - sum_prev) * (v * n_prev - sum_prev)
        |       > 9 * (n_prev * sumsq_prev - sum_prev * sum_prev)
        |    AS BIGINT) AS is_anomaly
        |FROM r WHERE n_prev >= 5""".stripMargin,

    // Unrolled 3-iteration replay of the integer power iteration; `//`
    // truncates toward zero like Scala long division (identical anyway
    // on the all-positive ranks), so every contribution matches
    // bit-for-bit
    // triangle twin: plain id-ordered enumeration (u<v<w) — the Spark
    // side degree-orders for scale, but the TRIANGLE SET (and so the
    // per-node counts) is orientation-independent
    "graph_triangles" ->
      """WITH cp AS (
        |  SELECT DISTINCT o_custkey AS node, l_partkey AS via
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), vc AS (
        |  SELECT via FROM cp GROUP BY via HAVING count(*) <= 1000
        |), k AS (
        |  SELECT cp.node, cp.via FROM cp JOIN vc USING (via)
        |), e AS (
        |  SELECT a.node AS u, b.node AS v
        |  FROM k a JOIN k b ON a.via = b.via AND a.node < b.node
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        |), nodes AS (
        |  SELECT u AS node FROM e UNION SELECT v AS node FROM e
        |), t AS (
        |  SELECT node, count(*) AS nt FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b AS node FROM tri
        |    UNION ALL SELECT c AS node FROM tri
        |  ) GROUP BY 1
        |)
        |SELECT n.node, CAST(coalesce(t.nt, 0) AS BIGINT) AS n_triangles
        |FROM nodes n LEFT JOIN t USING (node)""".stripMargin,

    // LPA twin: same co-purchase edge CTEs as graph_triangles (with the
    // shared-via count as weight), then three unrolled synchronous
    // rounds — argmax by (weight DESC, label ASC) per node
    // k-core by 8 unrolled peel rounds over the shared co-purchase edge
    // CTE: sound for ANY converged run because the k-core is unique and
    // order-independent — rounds past the fixpoint (4 at sf0.01) peel
    // nothing, so unroll depth only needs to be ≥ the true depth
    "graph_kcore" -> {
      val prefix =
        """WITH cp AS (
          |  SELECT DISTINCT o_custkey AS node, l_partkey AS via
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |), vc AS (
          |  SELECT via FROM cp GROUP BY via HAVING count(*) <= 1000
          |), k AS (
          |  SELECT cp.node, cp.via FROM cp JOIN vc USING (via)
          |), eu AS (
          |  SELECT a.node AS u, b.node AS v
          |  FROM k a JOIN k b ON a.via = b.via AND a.node < b.node
          |  GROUP BY 1, 2 HAVING count(*) >= 3
          |), e0 AS MATERIALIZED (
          |  SELECT u, v FROM eu UNION ALL SELECT v, u FROM eu
          |)""".stripMargin
      // every round references the previous edge CTE three times (the
      // degree filter + both endpoint joins): without MATERIALIZED the
      // inlined evaluation tree is 3^rounds re-reads of the base tables
      val rounds = (1 to 8).map { i =>
        s""", d$i AS MATERIALIZED (
           |  SELECT u FROM e${i - 1} GROUP BY u HAVING count(*) >= 35
           |), e$i AS MATERIALIZED (
           |  SELECT c.u, c.v FROM e${i - 1} c
           |  JOIN d$i a ON c.u = a.u JOIN d$i b ON c.v = b.u
           |)""".stripMargin
      }.mkString
      prefix + rounds +
        """
          |SELECT CAST(u AS BIGINT) AS node,
          |  CAST(count(*) AS BIGINT) AS core_degree
          |FROM e8 GROUP BY u""".stripMargin
    },

    "a_equidepth_histogram" ->
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    l_orderkey AS ok, CAST(l_linenumber AS BIGINT) AS ln
        |  FROM lineitem
        |), seq AS (
        |  SELECT pc,
        |    ((row_number() OVER (ORDER BY pc, ok, ln) - 1) * 8)
        |      // (count(*) OVER ()) + 1 AS bucket
        |  FROM v
        |)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(pc) AS BIGINT) AS lo_cents,
        |  CAST(max(pc) AS BIGINT) AS hi_cents
        |FROM seq GROUP BY 1""".stripMargin,

    "graph_communities" ->
      """WITH cp AS (
        |  SELECT DISTINCT o_custkey AS node, l_partkey AS via
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), vc AS (
        |  SELECT via FROM cp GROUP BY via HAVING count(*) <= 1000
        |), k AS (
        |  SELECT cp.node, cp.via FROM cp JOIN vc USING (via)
        |), eu AS (
        |  SELECT a.node AS u, b.node AS v, count(*) AS w
        |  FROM k a JOIN k b ON a.via = b.via AND a.node < b.node
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), e AS (
        |  SELECT u, v, w FROM eu UNION ALL SELECT v, u, w FROM eu
        |), l0 AS (
        |  SELECT DISTINCT u AS node, u AS lbl FROM e
        |), v1 AS (
        |  SELECT e.u AS node, l.lbl, sum(e.w) AS s
        |  FROM e JOIN l0 l ON e.v = l.node GROUP BY 1, 2
        |), l1 AS (
        |  SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (
        |      PARTITION BY node ORDER BY s DESC, lbl ASC) AS rn FROM v1)
        |  WHERE rn = 1
        |), v2 AS (
        |  SELECT e.u AS node, l.lbl, sum(e.w) AS s
        |  FROM e JOIN l1 l ON e.v = l.node GROUP BY 1, 2
        |), l2 AS (
        |  SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (
        |      PARTITION BY node ORDER BY s DESC, lbl ASC) AS rn FROM v2)
        |  WHERE rn = 1
        |), v3 AS (
        |  SELECT e.u AS node, l.lbl, sum(e.w) AS s
        |  FROM e JOIN l2 l ON e.v = l.node GROUP BY 1, 2
        |), l3 AS (
        |  SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (
        |      PARTITION BY node ORDER BY s DESC, lbl ASC) AS rn FROM v3)
        |  WHERE rn = 1
        |)
        |SELECT node, CAST(lbl AS BIGINT) AS community FROM l3""".stripMargin,

    "graph_pagerank" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), edges AS (
        |  SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0
        |), deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |c1 AS (
        |  SELECT e.dst, sum((r.rank * 850) // (1000 * d.outdeg)) AS c
        |  FROM edges e JOIN r0 r ON r.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY 1),
        |r1 AS (
        |  SELECT n.node, CAST(150000 + coalesce(c.c, 0) AS BIGINT) AS rank
        |  FROM nodes n LEFT JOIN c1 c ON c.dst = n.node),
        |c2 AS (
        |  SELECT e.dst, sum((r.rank * 850) // (1000 * d.outdeg)) AS c
        |  FROM edges e JOIN r1 r ON r.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY 1),
        |r2 AS (
        |  SELECT n.node, CAST(150000 + coalesce(c.c, 0) AS BIGINT) AS rank
        |  FROM nodes n LEFT JOIN c2 c ON c.dst = n.node),
        |c3 AS (
        |  SELECT e.dst, sum((r.rank * 850) // (1000 * d.outdeg)) AS c
        |  FROM edges e JOIN r2 r ON r.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY 1)
        |SELECT n.node, CAST(150000 + coalesce(c.c, 0) AS BIGINT) AS rank
        |FROM nodes n LEFT JOIN c3 c ON c.dst = n.node""".stripMargin,

    // SCD2 build: run starts survive (state IS DISTINCT FROM its lag),
    // then valid_to = next run start's ts — lead computed over the
    // FILTERED frame, like the engine's second window pass
    "scd2_intervals" ->
      """WITH runs AS (
        |  SELECT user_id, event_type AS state, ts, event_id,
        |    lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
        |  FROM events
        |), starts AS (
        |  SELECT user_id, state, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM runs WHERE state IS DISTINCT FROM prev_state)
        |SELECT user_id, state,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  CAST(valid_to IS NULL AS BIGINT) AS is_current
        |FROM starts""".stripMargin,

    // Forward as-of via DuckDB's native ASOF (a.ts <= b.ts picks the
    // nearest FOLLOWING right row), mirroring j_asof_backward's oracle
    "j_asof_forward" ->
      """SELECT a.event_id, a.user_id,
        |  strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
        |  CAST(floor(b.value * 1000000) AS BIGINT) AS purchase_value_micros
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') a
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |                WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id AND a.ts <= b.ts""".stripMargin,

    // rolling median replayed with DuckDB's windowed list + list_sort;
    // lower median by the same (n+1)//2 integer rank
    "w_rolling_median" ->
      """WITH v AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  CAST(list_sort(list(v) OVER w)[
        |    CAST((count(*) OVER w + 1) // 2 AS BIGINT)] AS BIGINT)
        |    AS rolling_median_micros
        |FROM v
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)""".stripMargin,

    "w_range_rolling" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |    AS BIGINT) AS day,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS rolling_30d_cents
        |FROM orders""".stripMargin,

    // Full-chain replay of the curation pipeline: quality formula (the
    // text_quality twin), the Jaccard CTE chain sourced from the quality
    // survivors, recursive-CTE clustering + survivor ranking, then the
    // decontamination verdict — one green hash proves the composition
    "pipeline_retention" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 50 <> 7
         |), q1 AS (
         |  SELECT doc_id, text, n_chars FROM (
         |    SELECT doc_id, text, n_chars,
         |      string_split_regex(lower(trim(text)), '\\s+') AS toks
         |    FROM corpus) x
         |  WHERE len(toks) >= 10
         |    AND CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g'))
         |        AS DOUBLE) / len(toks) >= 2.0
         |    AND length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
         |        * 5 <= length(text)
         |), ${jaccardCtesFrom("q1")},
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM pairs
         |), reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |), clusters AS (
         |  SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY 1
         |), losers AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id, row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
         |    FROM clusters c JOIN q1 d USING (doc_id)) WHERE rk > 1
         |), q2 AS (
         |  SELECT doc_id, text FROM q1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |), bt AS (
         |  SELECT string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents WHERE doc_id % 50 = 7
         |), bg AS (
         |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 4
         |    THEN list_transform(generate_series(0, len(t) - 4),
         |           i -> list_aggregate(t[i+1:i+4], 'string_agg', ' '))
         |    ELSE [] END) AS gram
         |  FROM bt
         |), qt AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM q2
         |), qg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 4
         |    THEN list_transform(generate_series(0, len(t) - 4),
         |           i -> list_aggregate(t[i+1:i+4], 'string_agg', ' '))
         |    ELSE [] END) AS gram
         |  FROM qt
         |), hits AS (
         |  SELECT qg.doc_id, count(*) AS n_hits FROM qg JOIN bg USING (gram)
         |  GROUP BY 1
         |), verdict AS (
         |  SELECT qt.doc_id,
         |    coalesce(h.n_hits, 0) * 100 >
         |      CAST(greatest(len(qt.t) - 3, 0) AS BIGINT) * 10 AS contaminated
         |  FROM qt LEFT JOIN hits h USING (doc_id))
         |SELECT
         |  CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_input,
         |  CAST((SELECT count(*) FROM q1) AS BIGINT) AS n_quality,
         |  CAST((SELECT count(*) FROM q2) AS BIGINT) AS n_dedup,
         |  CAST((SELECT count(*) FROM verdict WHERE NOT contaminated)
         |    AS BIGINT) AS n_final""".stripMargin,

    // capstone-2 twin: the same quality/cluster/survivor chain as
    // pipeline_retention, then the stratified md5 thresholds (salt
    // 'strata', keep-by-default) and the exclusive-running-total packing
    // window, aggregated to the shard manifest
    "pipeline_shards" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, text, n_chars, source FROM documents
         |  WHERE doc_id % 50 <> 7
         |), q1 AS (
         |  SELECT doc_id, text, n_chars, source FROM (
         |    SELECT doc_id, text, n_chars, source,
         |      string_split_regex(lower(trim(text)), '\\s+') AS toks
         |    FROM corpus) x
         |  WHERE len(toks) >= 10
         |    AND CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g'))
         |        AS DOUBLE) / len(toks) >= 2.0
         |    AND length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
         |        * 5 <= length(text)
         |), ${jaccardCtesFrom("q1")},
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION
         |  SELECT id_b AS u, id_a AS v FROM pairs
         |), reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |), clusters AS (
         |  SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY 1
         |), losers AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id, row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
         |    FROM clusters c JOIN q1 d USING (doc_id)) WHERE rk > 1
         |), q2 AS (
         |  SELECT doc_id, source, text FROM q1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |), samp AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
         |      AS BIGINT) AS n_tokens
         |  FROM q2
         |  WHERE CASE source
         |    WHEN 'src0' THEN
         |      substr(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
         |    WHEN 'src1' THEN
         |      substr(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
         |    ELSE TRUE END
         |), packed AS (
         |  SELECT source,
         |    CAST(floor(coalesce(sum(n_tokens) OVER (
         |        PARTITION BY source ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      / 2000.0) AS BIGINT) AS shard_id,
         |    n_tokens
         |  FROM samp)
         |SELECT source, shard_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
         |FROM packed GROUP BY 1, 2""".stripMargin,

    "chunk_dup_stats" ->
      """WITH x AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE length(text) > 0
        |), ch AS (
        |  SELECT doc_id,
        |    md5(substr(text, CAST(u.i * 200 + 1 AS INT), 200)) AS fp
        |  FROM (
        |    SELECT doc_id, text,
        |      unnest(list_transform(generate_series(0, (n - 1) // 200),
        |        i -> {'i': i})) AS u
        |    FROM x)
        |), counts AS (SELECT fp, count(*) AS n_occ FROM ch GROUP BY 1)
        |SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  CAST(CAST(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 100 > CAST(count(*) AS BIGINT) * 30 AS BIGINT)
        |    AS boilerplate_heavy
        |FROM ch JOIN counts c USING (fp)
        |GROUP BY 1""".stripMargin,

    // Corpus bigram LM: same whitespace-token bigram construction as
    // text_repetition's oracle; total order (n DESC, bigram ASC)
    "lm_bigram_counts" ->
      """WITH base AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT CASE WHEN len(t) >= 2
        |              THEN list_transform(range(len(t) - 1),
        |                     i -> t[i+1] || ' ' || t[i+2])
        |              ELSE [] END AS bigrams
        |  FROM base
        |), cnt AS (
        |  SELECT g AS bigram, count(*) AS n
        |  FROM (SELECT unnest(bigrams) AS g FROM bg) GROUP BY 1)
        |SELECT rank, bigram, n FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY n DESC, bigram ASC)
        |    AS BIGINT) AS rank, bigram, n
        |  FROM cnt) WHERE rank <= 200""".stripMargin,

    // interpolated Kneser-Ney (d = 3/4) in the exact-rational ppb form:
    // p = [(4*c12-3)*B + 3*N1fwd*N1bwd] / (4*c1*B) — HUGEINT replays the
    // engine's decimal(38,0) arithmetic bit-exactly
    "lm_kneser_ney" ->
      """WITH base AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT CASE WHEN len(t) >= 2
        |              THEN list_transform(range(len(t) - 1),
        |                     i -> t[i+1] || ' ' || t[i+2])
        |              ELSE [] END AS bigrams
        |  FROM base
        |), cnt AS (
        |  SELECT g AS bigram, count(*) AS c12
        |  FROM (SELECT unnest(bigrams) AS g FROM bg) GROUP BY 1
        |), sp AS (
        |  SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1,
        |         split_part(bigram, ' ', 2) AS w2
        |  FROM cnt
        |), w1a AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    count(*) AS n1p_fwd
        |  FROM sp GROUP BY 1
        |), w2a AS (
        |  SELECT w2, count(*) AS n1p_bwd FROM sp GROUP BY 1
        |), ty AS (SELECT count(*) AS n_types FROM cnt)
        |SELECT bigram, c12, c1,
        |  CAST(n1p_fwd AS BIGINT) AS n1p_fwd,
        |  CAST(n1p_bwd AS BIGINT) AS n1p_bwd,
        |  CAST(((4 * c12 - 3)::HUGEINT * n_types
        |      + 3::HUGEINT * n1p_fwd * n1p_bwd) * 1000000000
        |    // (4::HUGEINT * c1 * n_types) AS BIGINT) AS p_kn_ppb,
        |  CAST((3::HUGEINT * n1p_fwd * 1000000000)
        |    // (4::HUGEINT * c1) AS BIGINT) AS lambda_ppb
        |FROM sp JOIN w1a USING (w1) JOIN w2a USING (w2) CROSS JOIN ty
        |ORDER BY c12 DESC, bigram ASC LIMIT 500""".stripMargin,

    "lm_doc_coverage" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 2
        |              THEN list_transform(range(len(t) - 1),
        |                     i -> t[i+1] || ' ' || t[i+2])
        |              ELSE [] END AS bigrams
        |  FROM base
        |), db AS (
        |  SELECT doc_id, unnest(bigrams) AS bigram FROM bg
        |), cnt AS (
        |  SELECT bigram, count(*) AS n FROM db GROUP BY 1
        |), lm AS (
        |  SELECT bigram, n FROM (
        |    SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC)
        |      AS r FROM cnt) WHERE r <= 1000
        |), hits AS (
        |  SELECT db.doc_id, count(*) AS n_bigrams, count(lm.n) AS n_hits,
        |    coalesce(CAST(sum(lm.n) AS BIGINT), 0) AS hit_count_sum
        |  FROM db LEFT JOIN lm USING (bigram) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(h.n_bigrams, 0) AS n_bigrams,
        |  coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.hit_count_sum, 0) AS hit_count_sum
        |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin,

    // same micro-nat quantization as the trained language classifier
    // (round(ln(n/total)*1e6) — proven cross-engine-exact there), same
    // -12e6 floor per out-of-model occurrence
    "lm_doc_score" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 2
        |              THEN list_transform(range(len(t) - 1),
        |                     i -> t[i+1] || ' ' || t[i+2])
        |              ELSE [] END AS bigrams
        |  FROM base
        |), db AS (
        |  SELECT doc_id, unnest(bigrams) AS bigram FROM bg
        |), cnt AS (
        |  SELECT bigram, count(*) AS n FROM db GROUP BY 1
        |), top AS (
        |  SELECT bigram, n FROM (
        |    SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC)
        |      AS r FROM cnt) WHERE r <= 200
        |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM top
        |), lm AS (
        |  SELECT bigram, CAST(round(ln(n / t) * 1000000) AS BIGINT)
        |    AS logp_q
        |  FROM top, tot
        |), sc AS (
        |  SELECT db.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(coalesce(lm.logp_q, -12000000)) AS BIGINT) AS score_q
        |  FROM db LEFT JOIN lm USING (bigram) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  coalesce(s.score_q, 0) AS lm_score_q
        |FROM documents d LEFT JOIN sc s USING (doc_id)""".stripMargin,

    // DSIR: same micro-nat chain as lm_doc_score, run twice — target
    // model over lang='en' rows, raw model over all — and differenced
    // per bigram occurrence with the same -12e6 floor on either side
    "lm_importance_weights" -> dsirWeightsSql,

    "sample_dsir" ->
      s"""WITH ${dsirCtes()}
         |SELECT doc_id, logw_q FROM w
         |ORDER BY logw_q DESC,
         |  substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         |LIMIT 100""".stripMargin,

    // CCNet terciles: the lm_doc_score model chain, mean COST per bigram
    // via // on the negated (non-negative) score, rank-based per-lang
    // head/middle/tail
    "lm_perplexity_buckets" ->
      s"""WITH ${pplCtes()}
         |SELECT doc_id, lang, n_bigrams, mean_cost_q, ppl_bucket
         |FROM bucketed""".stripMargin,

    // per-source LM cost rollup over the same model chain
    "lm_cost_by_source" ->
      s"""WITH ${pplCtes()}
         |SELECT d.source,
         |  count(*) AS n_docs,
         |  CAST(sum(coalesce(s.n_bigrams, 0)) AS BIGINT) AS sum_bigrams,
         |  CAST(sum(-coalesce(s.score_q, 0)) AS BIGINT) AS sum_cost_q,
         |  CAST(sum(-coalesce(s.score_q, 0))
         |    // greatest(CAST(sum(coalesce(s.n_bigrams, 0)) AS BIGINT), 1)
         |    AS BIGINT) AS cost_per_bigram_q
         |FROM documents d LEFT JOIN psc s USING (doc_id)
         |GROUP BY 1""".stripMargin,

    // embedding DQ per label: milli-quantized norm² stats, lower median
    // by rank selection (2r = n or n+1), null/zero/wrong-dim counts
    "dq_embedding_report" ->
      """WITH eiq AS (
        |  SELECT vec_id, label,
        |    CASE WHEN embedding IS NOT NULL AND len(list_filter(
        |           embedding, x -> x IS NULL)) > 0
        |         THEN TRUE ELSE FALSE END AS null_elem,
        |    CASE WHEN embedding IS NULL THEN NULL
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))
        |    END AS q,
        |    CASE WHEN embedding IS NULL THEN NULL
        |         ELSE CAST(len(embedding) AS BIGINT) END AS dim
        |  FROM embeddings
        |), en AS (
        |  SELECT vec_id, label, dim, null_elem,
        |    CASE WHEN q IS NULL OR null_elem THEN NULL
        |         ELSE CAST(coalesce(list_sum(
        |           list_transform(q, x -> x*x)), 0) AS BIGINT)
        |    END AS n2
        |  FROM eiq
        |), er AS (
        |  SELECT label, n2,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY n2 ASC, vec_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY label) AS nn
        |  FROM en WHERE n2 IS NOT NULL
        |), emed AS (
        |  SELECT label, n2 AS median_n2 FROM er
        |  WHERE rn*2 = nn OR rn*2 = nn + 1
        |), est AS (
        |  SELECT label, count(*) AS n_vectors,
        |    CAST(sum(CASE WHEN dim IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null_vec,
        |    CAST(sum(CASE WHEN null_elem THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null_elem,
        |    CAST(sum(CASE WHEN dim IS NOT NULL AND dim != 64
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
        |    CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_vec,
        |    min(n2) AS min_n2, max(n2) AS max_n2
        |  FROM en GROUP BY 1)
        |SELECT est.label, est.n_vectors, est.n_null_vec, est.n_null_elem,
        |  est.n_wrong_dim, est.n_zero_vec, est.min_n2, est.max_n2,
        |  emed.median_n2
        |FROM est LEFT JOIN emed USING (label)""".stripMargin,

    // the gate decision over the same chain: keep iff mean cost <= the
    // per-lang max cost inside head+middle
    "lm_quality_gate" ->
      s"""WITH ${pplCtes()},
         |cut AS (
         |  SELECT lang, max(mean_cost_q) AS cutoff_cost_q
         |  FROM bucketed WHERE ppl_bucket != 'tail' GROUP BY 1)
         |SELECT b.doc_id, b.lang, b.n_bigrams, b.mean_cost_q,
         |  c.cutoff_cost_q,
         |  CAST(CASE WHEN c.cutoff_cost_q IS NOT NULL
         |            AND b.mean_cost_q <= c.cutoff_cost_q
         |       THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM bucketed b LEFT JOIN cut c USING (lang)""".stripMargin,

    "text_lexical_diversity" ->
      """WITH tbase AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(t) AS w FROM tbase
        |), pt AS (
        |  SELECT doc_id, w, count(*) AS c FROM tok
        |  WHERE len(w) > 0 GROUP BY 1, 2
        |), pd AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax
        |  FROM pt GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(p.n_tokens, 0) AS n_tokens,
        |  coalesce(p.n_types, 0) AS n_types,
        |  coalesce(p.n_hapax, 0) AS n_hapax,
        |  coalesce(p.n_types, 0) * 1000000
        |    // greatest(coalesce(p.n_tokens, 0), 1) AS ttr_ppm,
        |  coalesce(p.n_hapax, 0) * 1000000
        |    // greatest(coalesce(p.n_types, 0), 1) AS hapax_ppm
        |FROM documents d LEFT JOIN pd p USING (doc_id)""".stripMargin,

    // Gopher rule battery: integer evidence + cross-multiplied ratio
    // flags — no float divide anywhere, so the report hash-replays
    "text_gopher_rules" ->
      s"""WITH $gopherCtes
         |SELECT doc_id, n_words, sum_chars, n_hash, n_ellipsis, n_lines,
         |  n_bullet_lines, n_ellipsis_lines, n_alpha_words,
         |  n_stopword_hits, r_word_count, r_mean_wlen, r_symbol_ratio,
         |  r_bullet, r_ellipsis, r_alpha, r_stopwords, pass
         |FROM gpass""".stripMargin,

    // C4 cleaning report: line keeps (terminal punct + >=5 words) and
    // the page gates, all integer/membership tests
    "text_c4_filters" ->
      s"""WITH $c4Ctes
         |SELECT doc_id, n_lines, n_kept_lines, kept_chars, n_sentences,
         |  f_lorem, f_brace, f_javascript, f_few_sentences, kept
         |FROM kout""".stripMargin,

    // the Gopher curation front door: both filters -> exact dedup of the
    // joint survivors -> per-source rollup (the whole chain replayed)
    "pipeline_gopher" ->
      s"""WITH $gopherCtes,
         |$c4Ctes,
         |pgj AS MATERIALIZED (
         |  SELECT d.doc_id, d.source, md5(coalesce(d.text, '')) AS fp,
         |    g.pass, k.kept
         |  FROM documents d JOIN gpass g USING (doc_id)
         |       JOIN kout k USING (doc_id)),
         |pgu AS (
         |  SELECT fp, min(doc_id) AS doc_id FROM pgj
         |  WHERE pass = 1 AND kept = 1 GROUP BY fp),
         |pgus AS (
         |  SELECT j.source, count(*) AS n_unique
         |  FROM pgj j JOIN pgu u ON j.doc_id = u.doc_id GROUP BY 1),
         |pgr AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(pass) AS BIGINT) AS n_gopher_pass,
         |    CAST(sum(kept) AS BIGINT) AS n_c4_kept,
         |    CAST(sum(CASE WHEN pass = 1 AND kept = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_both
         |  FROM pgj GROUP BY 1)
         |SELECT r.source, r.n_docs, r.n_gopher_pass, r.n_c4_kept,
         |  r.n_both, coalesce(u.n_unique, 0) AS n_unique
         |FROM pgr r LEFT JOIN pgus u USING (source)""".stripMargin,

    // prototypicality pruning over the fixed codebook: cell = argmax
    // integer dot (ties to smallest index), score = that max, rank/cut
    // per cell
    "emb_prototype_prune" -> embPrototypePruneSql,

    // RHO excess: train-model cost minus holdout-model cost per train
    // doc (doc_id % 10 = 7 held out), CAST mean costs to BIGINT
    "lm_rho_excess" ->
      s"""WITH ${rhoCtes()}
         |SELECT doc_id, n_bigrams,
         |  CAST(cost_train_q AS BIGINT) AS cost_train_q,
         |  CAST(cost_holdout_q AS BIGINT) AS cost_holdout_q,
         |  CAST(cost_train_q - cost_holdout_q AS BIGINT) AS rho_q
         |FROM rhw""".stripMargin,

    // the greedy top-150 over that excess, ties by id
    "sample_rho" ->
      s"""WITH ${rhoCtes()}
         |SELECT doc_id, n_bigrams,
         |  CAST(cost_train_q - cost_holdout_q AS BIGINT) AS rho_q
         |FROM rhw
         |ORDER BY rho_q DESC, doc_id ASC LIMIT 150""".stripMargin,

    // temperature mix: sqrt weight (IEEE-exact), HUGEINT intermediates
    // mirror the Spark side's decimal(38,0), largest-remainder bonus by
    // (remainder desc, lang asc), clamp to group size
    "sample_temperature_alloc" ->
      s"""WITH ${temperatureCtes(400L)}
         |SELECT lang, n_docs, w_q, alloc FROM talloc""".stripMargin,

    "sample_temperature" ->
      s"""WITH ${temperatureCtes(400L)},
         |sel AS (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY substr(md5('temp' || CAST(doc_id AS VARCHAR)), 1, 8),
         |      doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, lang FROM sel JOIN talloc USING (lang)
         |WHERE rn <= alloc""".stripMargin,

    // multi-epoch upsampling: the UNCLAMPED apportionment by source;
    // k = full epochs + the md5-ordered partial-epoch bonus; range(k)
    // replays the 0-based epoch explode
    "sample_epochs" ->
      s"""WITH ${temperatureCtes(6000L, group = "source", clamped = false)},
         |sel AS (
         |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |    ORDER BY substr(md5('epoch' || CAST(doc_id AS VARCHAR)), 1, 8),
         |      doc_id) AS rn
         |  FROM documents
         |), ke AS (
         |  SELECT doc_id, source,
         |    CAST(alloc // n_docs AS BIGINT)
         |      + CASE WHEN rn <= alloc % n_docs THEN 1 ELSE 0 END AS k
         |  FROM sel JOIN talloc USING (source))
         |SELECT doc_id, source, CAST(unnest(range(k)) AS BIGINT) AS epoch
         |FROM ke WHERE k > 0""".stripMargin,

    // curriculum interleave: fixed-width score bands from the corpus
    // bounds, md5 order within band, key = rn*10 + bucket
    "pack_curriculum" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS f_chars,
        |    CAST(length(text) - length(replace(text, ' ', ''))
        |      AS BIGINT) AS f_spaces,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS f_digits,
        |    CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g'))
        |      AS BIGINT) AS f_punct,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
        |      AS BIGINT) AS f_upper
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, coalesce(500 - f_chars + 12 * f_spaces
        |    - 8 * f_digits + 25 * f_punct - 3 * f_upper, 0) AS score_q
        |  FROM f
        |), bounds AS (
        |  SELECT min(score_q) AS mn, max(score_q) AS mx FROM s
        |), b AS (
        |  SELECT doc_id, score_q,
        |    CAST(((score_q - mn) * 10) // (mx - mn + 1) AS BIGINT) AS bucket
        |  FROM s, bounds
        |), r AS (
        |  SELECT doc_id, score_q, bucket,
        |    CAST(row_number() OVER (PARTITION BY bucket
        |      ORDER BY substr(md5('curr' || CAST(doc_id AS VARCHAR)), 1, 8),
        |        doc_id) AS BIGINT) AS rn_in_bucket
        |  FROM b)
        |SELECT doc_id, CAST(score_q AS BIGINT) AS score_q, bucket,
        |  rn_in_bucket, rn_in_bucket * 10 + bucket AS curriculum_key
        |FROM r""".stripMargin,

    // the CCNet pipeline capstone: exact dedup (min id per md5(text)) ->
    // the tercile chain over SURVIVORS (model refit on survivors) ->
    // keep head+middle -> per-(lang, bucket) rollup
    "pipeline_ccnet" ->
      s"""WITH keep AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(coalesce(text, ''))
         |), docs2 AS (
         |  SELECT d.doc_id, d.text, d.lang
         |  FROM documents d JOIN keep USING (doc_id)
         |), ${pplCtes("docs2")}
         |SELECT lang, ppl_bucket,
         |  count(*) AS n_docs,
         |  CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
         |  CAST(sum(mean_cost_q) AS BIGINT) AS sum_mean_cost_q
         |FROM bucketed WHERE ppl_bucket != 'tail'
         |GROUP BY 1, 2""".stripMargin,

    // the k lowest md5 prefixes, id tiebreak — the same portable order as
    // sample_cap_per_group, global instead of per group
    "sample_fixed_k" ->
      """SELECT doc_id FROM documents
        |ORDER BY substr(md5('fixk' || CAST(doc_id AS VARCHAR)), 1, 8),
        |  doc_id
        |LIMIT 100""".stripMargin,

    // edit-distance twin: brute-force quadratic levenshtein — the FastSS
    // deletion-neighborhood blocking is LOSSLESS at distance 1 (a
    // substitution is a same-position deletion on both sides; an indel is
    // a deletion on the longer side; identity shares the self variant),
    // so the optimized pair set equals the naive one (oracle pattern #5)
    "dedup_edit_distance" ->
      """WITH p AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    levenshtein(a.c_name, b.c_name) AS d
        |  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey)
        |SELECT id_a, id_b, CAST(d AS BIGINT) AS distance
        |FROM p WHERE d <= 1""".stripMargin,

    // interval-union twin: same (start, end, orderkey, linenumber) total
    // order, same running-max island flag, same end-exclusive lengths
    "w_interval_coverage" ->
      """WITH b AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    CAST(datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS s,
        |    CAST(datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT)
        |      + CAST(l_quantity AS BIGINT) AS e
        |  FROM lineitem
        |), m AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, s, e,
        |    max(e) OVER (PARTITION BY l_suppkey
        |      ORDER BY s, e, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM b
        |), g AS (
        |  SELECT l_suppkey, s, e,
        |    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY l_suppkey
        |        ORDER BY s, e, l_orderkey, l_linenumber
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM m
        |), i AS (
        |  SELECT l_suppkey, isl, count(*) AS n, min(s) AS lo, max(e) AS hi
        |  FROM g GROUP BY 1, 2)
        |SELECT l_suppkey, CAST(sum(n) AS BIGINT) AS n_intervals,
        |  count(*) AS n_islands, CAST(sum(hi - lo) AS BIGINT) AS covered
        |FROM i GROUP BY 1""".stripMargin,

    // association-rule twin: same (user, day) baskets, same directed pair
    // counts, same truncating integer ppm divisions
    "events_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        |  FROM events
        |), tot AS (
        |  SELECT count(*) AS n_baskets FROM (
        |    SELECT DISTINCT user_id, day FROM items)
        |), ic AS (
        |  SELECT event_type, count(*) AS cnt FROM items GROUP BY 1
        |), p AS (
        |  SELECT x.event_type AS antecedent, y.event_type AS consequent,
        |    count(*) AS n_pair
        |  FROM items x JOIN items y
        |    ON x.user_id = y.user_id AND x.day = y.day
        |    AND x.event_type <> y.event_type
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 5)
        |SELECT antecedent, consequent, CAST(n_pair AS BIGINT) AS n_pair,
        |  CAST(a.cnt AS BIGINT) AS n_ante, CAST(c.cnt AS BIGINT) AS n_cons,
        |  CAST(n_pair * 1000000 // a.cnt AS BIGINT) AS confidence_ppm,
        |  CAST(n_pair * n_baskets * 1000000 // (a.cnt * c.cnt) AS BIGINT)
        |    AS lift_ppm
        |FROM p
        |JOIN ic a ON p.antecedent = a.event_type
        |JOIN ic c ON p.consequent = c.event_type, tot""".stripMargin,

    // OLS twin: HUGEINT power sums mirror the decimal(38,0) sums; both
    // divisions truncate toward zero on both engines
    "a_linreg_slope" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS BIGINT)) AS sum_x,
        |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sum_y,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS sum_xx,
        |    sum(CAST(l_quantity AS BIGINT)
        |      * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS sum_xy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CAST((n * sum_xy - sum_x * sum_y) * 1000000
        |    // (n * sum_xx - sum_x * sum_x) AS BIGINT) AS slope_ppm,
        |  CAST((sum_y * sum_xx - sum_x * sum_xy) * 1000000
        |    // (n * sum_xx - sum_x * sum_x) AS BIGINT)
        |    AS intercept_cents_ppm
        |FROM s""".stripMargin,

    // chi-squared twin: HUGEINT marginals; per-cell scaled terms with the
    // identical truncating division
    "dq_chi2_independence" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS n_obs
        |  FROM documents GROUP BY 1, 2
        |), r AS (SELECT lang, sum(n_obs) AS rr FROM cells GROUP BY 1
        |), c AS (SELECT source, sum(n_obs) AS cc FROM cells GROUP BY 1
        |), g AS (SELECT sum(n_obs) AS n FROM cells)
        |SELECT cells.lang, cells.source, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(rr * cc * 1000 // n AS BIGINT) AS expected_milli,
        |  CAST((n * n_obs - rr * cc) * (n * n_obs - rr * cc) * 1000000
        |    // (n * rr * cc) AS BIGINT) AS chi2_term_ppm
        |FROM cells JOIN r USING (lang) JOIN c USING (source), g""".stripMargin,

    // key-skew twin: same nearest-rank median on the (cnt, key) order,
    // same truncating ppm ratios
    "dq_key_skew" ->
      """WITH counts AS (
        |  SELECT l_suppkey AS k, count(*) AS cnt
        |  FROM lineitem GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n_keys, sum(cnt) AS n_rows, max(cnt) AS max_cnt
        |  FROM counts
        |), med AS (
        |  SELECT cnt AS median_cnt FROM (
        |    SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS rn
        |    FROM counts), stats
        |  WHERE rn = (n_keys + 1) // 2)
        |SELECT CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(max_cnt AS BIGINT) AS max_cnt,
        |  CAST(median_cnt AS BIGINT) AS median_cnt,
        |  CAST(max_cnt * 1000000 // n_rows AS BIGINT) AS top_share_ppm,
        |  CAST(max_cnt * 1000000 // median_cnt AS BIGINT) AS skew_ppm
        |FROM stats, med""".stripMargin,

    // novelty twin: the shared shingle algebra, df table, df=1 share
    "text_ngram_novelty" ->
      s"""WITH ${shingleCtesFrom("documents")},
         |dftab AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1)
         |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS novelty_ppm
         |FROM ex e JOIN dftab d USING (shingle)
         |GROUP BY 1""".stripMargin,

    // id-gaps twin: row_number + the same successor self-join
    "dq_id_gaps" ->
      """WITH ids AS (SELECT DISTINCT l_orderkey AS id FROM lineitem),
        |seqd AS (
        |  SELECT id, row_number() OVER (ORDER BY id) AS seq FROM ids),
        |p AS (
        |  SELECT a.id, b.id AS next_id
        |  FROM seqd a JOIN seqd b ON b.seq = a.seq + 1)
        |SELECT CAST(id + 1 AS BIGINT) AS gap_start,
        |  CAST(next_id - 1 AS BIGINT) AS gap_end,
        |  CAST(next_id - id - 1 AS BIGINT) AS gap_len
        |FROM p WHERE next_id > id + 1""".stripMargin,

    // FD-strength twin: same shrinking (lhs, rhs) cells -> per-lhs
    // max/sum -> one-row reduction; every aggregate BIGINT-cast
    "dq_fd_strength" ->
      """WITH cells AS (
        |  SELECT l_partkey, l_suppkey, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), per AS (
        |  SELECT l_partkey, sum(c) AS ng, max(c) AS keep,
        |    count(*) AS nrhs
        |  FROM cells GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_groups,
        |  CAST(sum(ng) AS BIGINT) AS n_rows,
        |  CAST(sum(ng - keep) AS BIGINT) AS n_rows_to_delete,
        |  CAST((sum(ng - keep) * 1000000) // nullif(sum(ng), 0) AS BIGINT)
        |    AS g3_ppm
        |FROM per""".stripMargin,

    // TWAP twin: same lead-to-next/day-end hold durations in epoch
    // seconds, same milli quantization and truncating division
    "events_twap" ->
      """WITH base AS (
        |  SELECT event_type, ts,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events WHERE value IS NOT NULL
        |), seq AS (
        |  SELECT event_type, d, vm,
        |    coalesce(lead(sec) OVER (PARTITION BY event_type, d
        |      ORDER BY ts, vm), (d + 1) * 86400) - sec AS dt
        |  FROM base)
        |SELECT event_type, CAST(d AS BIGINT) AS epoch_day,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(dt) AS BIGINT) AS covered_sec,
        |  CAST((sum(CAST(vm AS HUGEINT) * dt)
        |      - sum(CAST(vm AS HUGEINT) * dt) % nullif(sum(dt), 0))
        |    // nullif(sum(dt), 0) AS BIGINT) AS twap_milli
        |FROM seq GROUP BY 1, 2""".stripMargin,

    // CUSUM twin: identical scaled-integer statistic and the identical
    // packed-long argmax (|C|*1e5 + reversed epoch day, max, unpack)
    "events_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS x
        |  FROM events GROUP BY 1, 2
        |), seq AS (
        |  SELECT event_type, d, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS k,
        |    sum(x) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(x) OVER (PARTITION BY event_type) AS s
        |  FROM daily
        |), c AS (
        |  SELECT event_type, n, s,
        |    abs(n * p - k * s) * 100000
        |      + (99999 - datediff('day', DATE '1970-01-01', d)) AS pack
        |  FROM seq)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_periods,
        |  CAST(max(s) AS BIGINT) AS total,
        |  CAST(99999 - max(pack) % 100000 AS BIGINT) AS change_epoch_day,
        |  CAST(max(pack) // 100000 AS BIGINT) AS peak_abs_scaled
        |FROM c GROUP BY 1""".stripMargin,

    // k-anonymity twin: same two-level aggregation; SUM widens to
    // HUGEINT -> outer BIGINT cast (SURVEY §5 discipline)
    "dq_k_anonymity" ->
      """WITH classes AS (
        |  SELECT lang, source, n_chars, count(*) AS class_size
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT CAST(class_size AS BIGINT) AS class_size,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  CAST(class_size < 5 AS BIGINT) AS violates_k
        |FROM classes GROUP BY class_size""".stripMargin,

    // exact-split twin: same per-stratum md5-prefix order, same integer
    // rank cuts (rn·10 ≤ n·8 / n·9)
    "sample_splits_exact" ->
      """SELECT doc_id, lang, CASE
        |  WHEN rn * 10 <= n * 8 THEN 'train'
        |  WHEN rn * 10 <= n * 9 THEN 'valid'
        |  ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY substr(md5('exact-split' || CAST(doc_id AS VARCHAR)),
        |        1, 8), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)""".stripMargin,

    // BFS twin: the same symmetrized purchase graph, levels unrolled to
    // maxHops = 3 (like the pagerank twin's unrolled iterations); each
    // level excludes every earlier one, which IS shortest-hop semantics
    "graph_shortest_paths" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), edges AS (
        |  SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0
        |), d0 AS (SELECT 'c1' AS node),
        |d1 AS (
        |  SELECT DISTINCT e.dst AS node
        |  FROM edges e JOIN d0 ON e.src = d0.node
        |  WHERE e.dst NOT IN (SELECT node FROM d0)),
        |d2 AS (
        |  SELECT DISTINCT e.dst AS node
        |  FROM edges e JOIN d1 ON e.src = d1.node
        |  WHERE e.dst NOT IN (SELECT node FROM d0)
        |    AND e.dst NOT IN (SELECT node FROM d1)),
        |d3 AS (
        |  SELECT DISTINCT e.dst AS node
        |  FROM edges e JOIN d2 ON e.src = d2.node
        |  WHERE e.dst NOT IN (SELECT node FROM d0)
        |    AND e.dst NOT IN (SELECT node FROM d1)
        |    AND e.dst NOT IN (SELECT node FROM d2))
        |SELECT node, CAST(0 AS BIGINT) AS dist FROM d0
        |UNION ALL SELECT node, CAST(1 AS BIGINT) FROM d1
        |UNION ALL SELECT node, CAST(2 AS BIGINT) FROM d2
        |UNION ALL SELECT node, CAST(3 AS BIGINT) FROM d3""".stripMargin,

    // gap-fill twin: same per-user daily counts, same lead bound, the
    // explode replayed with unnest(generate_series)
    "events_gap_fill" ->
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), l AS (
        |  SELECT user_id, d, n,
        |    lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nd
        |  FROM b
        |), f AS (
        |  SELECT user_id, d, n,
        |    unnest(generate_series(d, coalesce(nd - 1, d))) AS day
        |  FROM l)
        |SELECT user_id, day, CAST(n AS BIGINT) AS n_events,
        |  CAST(day = d AS BIGINT) AS observed
        |FROM f""".stripMargin,

    // Markov twin: same lead adjacency, same truncating ppm division
    "events_markov" ->
      """WITH t AS (
        |  SELECT event_type AS state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_state
        |  FROM events
        |), c AS (
        |  SELECT state, next_state, count(*) AS n_trans
        |  FROM t WHERE next_state IS NOT NULL GROUP BY 1, 2
        |), f AS (SELECT state, sum(n_trans) AS n_from FROM c GROUP BY 1)
        |SELECT c.state, c.next_state, CAST(n_trans AS BIGINT) AS n_trans,
        |  CAST(n_from AS BIGINT) AS n_from,
        |  CAST(n_trans * 1000000 // n_from AS BIGINT) AS prob_ppm
        |FROM c JOIN f ON c.state = f.state""".stripMargin,

    // winsorized-mean twin: same nearest-rank cut selection via group-max
    // windows, same clamp, same truncating ppm mean
    "a_winsorized_mean" ->
      """WITH r AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_quantity AS BIGINT), l_orderkey,
        |        l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem
        |), c AS (
        |  SELECT l_returnflag, v, n,
        |    max(CASE WHEN rn = greatest(1, (5 * n + 99) // 100) THEN v END)
        |      OVER (PARTITION BY l_returnflag) AS lo,
        |    max(CASE WHEN rn = greatest(1, (95 * n + 99) // 100) THEN v END)
        |      OVER (PARTITION BY l_returnflag) AS hi
        |  FROM r)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(lo) AS BIGINT) AS lo_cut, CAST(max(hi) AS BIGINT) AS hi_cut,
        |  CAST(sum(greatest(lo, least(hi, v))) AS BIGINT) AS wsum,
        |  CAST(sum(greatest(lo, least(hi, v))) * 1000000 // max(n)
        |    AS BIGINT) AS wmean_ppm
        |FROM c GROUP BY l_returnflag""".stripMargin,

    // RFM twin: same customer aggregate, same (seq·4 div n)+1 scoring on
    // the same (metric, custkey) total orders — row_number replays the
    // distributed range-sort sequence
    "a_rfm_segments" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |    max(CAST(datediff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT)) AS last_day,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY 1
        |), m AS (SELECT max(last_day) AS maxd FROM c),
        |b AS (
        |  SELECT o_custkey, maxd - last_day AS recency_days, frequency,
        |    monetary_cents
        |  FROM c, m
        |), n AS (SELECT count(*) AS n FROM b),
        |s AS (
        |  SELECT o_custkey, recency_days, frequency, monetary_cents,
        |    (row_number() OVER (ORDER BY -recency_days, o_custkey) - 1) * 4
        |      AS rr,
        |    (row_number() OVER (ORDER BY frequency, o_custkey) - 1) * 4
        |      AS fr,
        |    (row_number() OVER (ORDER BY monetary_cents, o_custkey) - 1) * 4
        |      AS mr
        |  FROM b)
        |SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
        |  CAST(frequency AS BIGINT) AS frequency, monetary_cents,
        |  CAST(rr // n + 1 AS BIGINT) AS r_score,
        |  CAST(fr // n + 1 AS BIGINT) AS f_score,
        |  CAST(mr // n + 1 AS BIGINT) AS m_score,
        |  CAST((rr // n + 1) * 100 + (fr // n + 1) * 10 + (mr // n + 1)
        |    AS BIGINT) AS rfm_code
        |FROM s, n""".stripMargin,

    // weighted-median twin: suffix-min selection on the cumulative
    // weight, tie-order-free (see the operator scaladoc)
    "a_weighted_median" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem
        |), c AS (
        |  SELECT l_returnflag, v, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM r)
        |SELECT l_returnflag, CAST(min(v) AS BIGINT) AS weighted_median,
        |  CAST(max(totw) AS BIGINT) AS total_weight
        |FROM c WHERE cumw * 2 >= totw
        |GROUP BY 1""".stripMargin,

    // period-over-period twin: same month key, same lag, same truncating
    // (toward zero, both engines) ppm division; first months stay NULL
    "w_period_over_period" ->
      """WITH r AS (
        |  SELECT c_nationkey,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |      AS yyyymm,
        |    sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS rev_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2
        |), l AS (
        |  SELECT c_nationkey, yyyymm, rev_cents,
        |    lag(rev_cents) OVER (PARTITION BY c_nationkey ORDER BY yyyymm)
        |      AS prev_cents
        |  FROM r)
        |SELECT c_nationkey, yyyymm, CAST(rev_cents AS BIGINT) AS rev_cents,
        |  CAST(prev_cents AS BIGINT) AS prev_cents,
        |  CAST((rev_cents - prev_cents) * 1000000 // prev_cents AS BIGINT)
        |    AS delta_ppm
        |FROM l""".stripMargin,

    // cumulative-users twin: same first-seen reduction, same running sum
    "events_cumulative_users" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT)) AS day
        |  FROM events GROUP BY 1
        |), d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT day, CAST(new_users AS BIGINT) AS new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM d""".stripMargin,

    // truncation twin: same empty-filtered space split, same 64-token
    // slice (DuckDB list slices are 1-based inclusive, = slice(_, 1, 64))
    // EWMA twin: list() over the identical framed window preserves frame
    // order in both engines; power-of-two weights and one trailing
    // truncating division keep every intermediate an exact BIGINT
    "events_ewma" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vm
        |  FROM events WHERE value IS NOT NULL
        |), w AS (
        |  SELECT event_id, user_id,
        |    list(vm) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr
        |  FROM e)
        |SELECT event_id, user_id, CAST(len(arr) AS BIGINT) AS n,
        |  CAST(list_sum(list_transform(generate_series(1, len(arr)),
        |    j -> arr[j] * (1::BIGINT << (j - 1)))) AS BIGINT)
        |    // ((1::BIGINT << len(arr)) - 1) AS ewma_micros
        |FROM w""".stripMargin,

    // double-EWMA twin: the identical truncating power-series smoothing
    // applied twice (second window over the s1 column), dyadic trend
    "events_double_ewma" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vm
        |  FROM events WHERE value IS NOT NULL
        |), w1 AS (
        |  SELECT event_id, user_id, ts,
        |    list(vm) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr
        |  FROM e
        |), s1t AS (
        |  SELECT event_id, user_id, ts, CAST(len(arr) AS BIGINT) AS n,
        |    CAST(list_sum(list_transform(generate_series(1, len(arr)),
        |      j -> arr[j] * (1::BIGINT << (j - 1)))) AS BIGINT)
        |      // ((1::BIGINT << len(arr)) - 1) AS s1
        |  FROM w1
        |), w2 AS (
        |  SELECT event_id, user_id, n, s1,
        |    list(s1) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr2
        |  FROM s1t
        |)
        |SELECT event_id, user_id, n, CAST(s1 AS BIGINT) AS ewma_micros,
        |  CAST(list_sum(list_transform(generate_series(1, len(arr2)),
        |    j -> arr2[j] * (1::BIGINT << (j - 1)))) AS BIGINT)
        |    // ((1::BIGINT << len(arr2)) - 1) AS dewma_micros,
        |  CAST(3 * s1 - 2 * (
        |    CAST(list_sum(list_transform(generate_series(1, len(arr2)),
        |      j -> arr2[j] * (1::BIGINT << (j - 1)))) AS BIGINT)
        |      // ((1::BIGINT << len(arr2)) - 1)) AS BIGINT)
        |    AS forecast_micros
        |FROM w2""".stripMargin,

    // Phrase-search twin: the identical positional lambda over the same
    // empty-filtered token list (sequence bounds clamp the same way:
    // greatest(n-2, 0) vs generate_series on a possibly-negative bound
    // yielding an empty list)
    "text_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS l
        |  FROM documents WHERE text IS NOT NULL
        |), h AS (
        |  SELECT doc_id,
        |    list_filter(generate_series(1, greatest(len(l) - 2, 0)),
        |      i -> l[i] = 'row' AND l[i + 1] = 'column'
        |        AND l[i + 2] = 'sort') AS hits
        |  FROM t)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_occ,
        |  CAST(hits[1] AS BIGINT) AS first_pos
        |FROM h WHERE len(hits) > 0""".stripMargin,

    // Repeated-span twin: identical positional-shingle construction
    // (empty-filtered space split, md5-prefix fingerprint — DuckDB list
    // slice l[i:i+7] and Spark slice(l, i, 8) select the same 8 tokens),
    // identical df cap, identical gaps-and-islands reduction
    "text_repeated_spans" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL
        |), sized AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) >= 8
        |), pos AS (
        |  SELECT doc_id AS doc, u.pos AS pos, u.sh AS sh
        |  FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, n - 7),
        |        i -> {'pos': i,
        |              'sh': substr(md5(array_to_string(toks[i:i+7], ' ')),
        |                           1, 16)})) AS u
        |    FROM sized)
        |), cold AS (
        |  SELECT * FROM pos WHERE sh NOT IN (
        |    SELECT sh FROM pos GROUP BY 1 HAVING count(*) > 20)
        |), pr AS (
        |  SELECT a.doc AS doc_a, b.doc AS doc_b, a.pos AS pos_a,
        |    b.pos AS pos_b, a.pos - b.pos AS diag
        |  FROM cold a JOIN cold b USING (sh) WHERE a.doc < b.doc
        |), isl AS (
        |  SELECT doc_a, doc_b, diag, pos_a, pos_b,
        |    pos_a - row_number() OVER (
        |      PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
        |  FROM pr)
        |SELECT doc_a, doc_b,
        |  CAST(min(pos_a) AS BIGINT) AS start_a,
        |  CAST(min(pos_b) AS BIGINT) AS start_b,
        |  CAST(count(*) + 7 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_a, doc_b, diag, island
        |HAVING count(*) + 7 >= 16""".stripMargin,

    "text_truncate_budget" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS l
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
        |  CAST(least(len(l), 64) AS BIGINT) AS n_kept,
        |  CAST(len(l) > 64 AS BIGINT) AS truncated,
        |  array_to_string(l[1:64], ' ') AS kept_text
        |FROM t""".stripMargin,

    // JSON-extraction twin: json_extract_string replays the same $.k
    // path; TRY_CAST mirrors Spark's non-ANSI cast (NULL on a
    // non-integral or missing k, never an error)
    "events_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS n_with_k,
        |  CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  CAST(min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS min_k,
        |  CAST(max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS max_k
        |FROM events GROUP BY 1""".stripMargin,

    // conversion-lag twin: same two min-reductions and ordering filter,
    // exact epoch-second difference
    "events_conversion_lag" ->
      """WITH fv AS (
        |  SELECT user_id, min(ts) AS first_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1
        |), fp AS (
        |  SELECT e.user_id, min(e.ts) AS first_purchase,
        |    min(fv.first_view) AS first_view
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
        |  GROUP BY 1)
        |SELECT user_id,
        |  CAST(epoch_us(first_purchase) - epoch_us(first_view) AS BIGINT)
        |    AS lag_micros
        |FROM fp""".stripMargin,

    // completeness twin: the same single-pass null/empty reductions
    // the bitmap rollup is EXACT, so it answers under the plain
    // count(DISTINCT) — the whole point vs the rows-only HLL twin
    "a_bitmap_rollup" ->
      """SELECT o_orderstatus,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        |FROM orders GROUP BY 1""".stripMargin,

    "j_join_size_exact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_join_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,

    // CMS inner-product join-size estimate replayed exactly: the sketch
    // is deterministic (multiply-shift rows with FIXED constants — the
    // first 4 splitmix64 outputs of CmsState.A/B, generated into SQL by
    // cmsAbCte from the engine's own hashConstants, r17: no literal
    // copies to drift), so each row's bucket counts rebuild from the raw keys
    // ((a·x + b) mod 2^64 >> 48 at width 65536) and the estimate is the
    // min over rows of the bucket-count dot product — no sketch bytes
    // cross the engines, just the same integer arithmetic
    "j_join_size_estimate" -> {
      s"""WITH ab AS (${cmsAbCte(4)}),
         |la AS (
         |  SELECT r, (a * l_orderkey + b) % $K64 // 281474976710656
         |    AS cell, count(*) AS c
         |  FROM lineitem CROSS JOIN ab GROUP BY 1, 2),
         |ob AS (
         |  SELECT r, (a * o_orderkey + b) % $K64 // 281474976710656
         |    AS cell, count(*) AS c
         |  FROM orders CROSS JOIN ab GROUP BY 1, 2),
         |ip AS (
         |  SELECT la.r, SUM(la.c::HUGEINT * ob.c) AS s
         |  FROM la JOIN ob ON la.r = ob.r AND la.cell = ob.cell
         |  GROUP BY 1)
         |SELECT CAST(min(s) AS BIGINT) AS est_join_rows FROM ip""".stripMargin
    },

    "a_freq_exact_probe" ->
      """SELECT l_returnflag, CAST(l_partkey AS BIGINT) AS probe_key,
        |  CAST(count(*) AS BIGINT) AS n_exact
        |FROM lineitem WHERE l_partkey IN (1, 2, 3, 4, 5)
        |GROUP BY 1, 2""".stripMargin,

    // the CMS probe rollup replayed exactly (r17): same fixed
    // multiply-shift constants as j_join_size_estimate but at the
    // sketch-table width 2048 (shift 53). The flag-level merge is
    // counter-wise exact, so each probed counter equals the count of
    // flag-group keys landing in the probe's bucket — rebuilt here from
    // the raw keys; the estimate is the min over the 4 hash rows
    "a_freq_sketch_rollup" -> {
      val ab = cmsAbCte(4)
      val probes = (1 to 5)
        .map(k => s"SELECT $k::BIGINT AS probe_key")
        .mkString(" UNION ALL ")
      s"""WITH ab AS ($ab),
         |probes AS ($probes),
         |lc AS (
         |  SELECT l_returnflag, r,
         |    (a * l_partkey + b) % $K64 // 9007199254740992 AS cell,
         |    count(*) AS c
         |  FROM lineitem CROSS JOIN ab GROUP BY 1, 2, 3),
         |pb AS (
         |  SELECT probe_key, r,
         |    (a * probe_key + b) % $K64 // 9007199254740992 AS cell
         |  FROM probes CROSS JOIN ab),
         |n AS (
         |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
         |  FROM lineitem GROUP BY 1),
         |cnt AS (
         |  SELECT n.l_returnflag, n.n, pb.probe_key, pb.r,
         |    coalesce(lc.c, 0) AS counter
         |  FROM n CROSS JOIN pb
         |  LEFT JOIN lc ON lc.l_returnflag = n.l_returnflag
         |    AND lc.r = pb.r AND lc.cell = pb.cell)
         |SELECT l_returnflag, n, probe_key,
         |  CAST(min(counter) AS BIGINT) AS est_count
         |FROM cnt GROUP BY 1, 2, 3""".stripMargin
    },

    // Spark's native HLL++ replayed bit-for-bit (r17): registers from
    // the XxhSql XXH64 closed form, the harmonic sum as the same
    // in-order IEEE fold (list_reduce over an ORDER BY idx list), and
    // the bias-correction kNN over the published interpolation tables —
    // read from Spark's own HyperLogLogPlusPlusHelper at generation
    // time. All three estimator regimes validated against pyspark 4.1.2
    // (linear-counting / bias-corrected / raw E). See graft.HllSql.
    "a_approx_distinct" -> HllSql.approxCountDistinctSql(
      "lineitem", "l_returnflag", "l_partkey", "approx_parts", 0.02),

    // the at-rest HLL++ register rollup: slot maxes commute with the
    // rollup, so the merged-sketch estimate equals the direct
    // approx_count_distinct over the rollup key — same HllSql replay
    "a_hllpp_rollup" -> HllSql.approxCountDistinctSql(
      "orders", "o_orderstatus", "o_custkey", "approx_distinct", 0.02),

    // rule suite replayed with identical NOT coalesce(pred, false) logic
    "dq_rule_violations" -> {
      val rules = Seq(
        "qty_positive" -> "l_quantity > 0",
        "price_positive" -> "l_extendedprice > 0",
        "discount_in_unit" -> "l_discount BETWEEN 0.0 AND 1.0",
        "tax_bounded" -> "l_tax <= 0.10",
        "flag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
        "linestatus_domain" -> "l_linestatus IN ('F', 'O')",
        "shipdate_range" -> ("CAST(l_shipdate AS TIMESTAMP) BETWEEN " +
          "TIMESTAMP '1992-01-01' AND TIMESTAMP '1999-12-31'"))
      val sums = rules.map { case (nm, p) =>
        s"    sum(CASE WHEN NOT coalesce($p, false) THEN 1 ELSE 0 END) AS v_$nm"
      }.mkString(",\n")
      val per = rules.map { case (nm, _) =>
        s"""SELECT '$nm' AS rule, CAST(v_$nm AS BIGINT) AS n_violations,
           |  CAST((CAST(v_$nm AS HUGEINT) * 1000000) // n_rows AS BIGINT)
           |    AS violation_ppm
           |FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH m AS (\n  SELECT count(*) AS n_rows,\n$sums\n  FROM lineitem\n)\n$per"
    },

    // degree buckets via length(bin(d)) — integer in both engines
    "graph_degree_histogram" ->
      """WITH cp AS (
        |  SELECT DISTINCT o_custkey AS node, l_partkey AS via
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), vc AS (
        |  SELECT via FROM cp GROUP BY via HAVING count(*) <= 1000
        |), k AS (
        |  SELECT cp.node, cp.via FROM cp JOIN vc USING (via)
        |), eu AS (
        |  SELECT a.node AS u, b.node AS v
        |  FROM k a JOIN k b ON a.via = b.via AND a.node < b.node
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), e0 AS (
        |  SELECT u FROM eu UNION ALL SELECT v FROM eu
        |), deg AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY 1
        |)
        |SELECT CAST(length(bin(d)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(d) AS BIGINT) AS min_degree,
        |  CAST(max(d) AS BIGINT) AS max_degree
        |FROM deg GROUP BY 1""".stripMargin,

    // profile replayed as one UNION ALL per column; min/max go through
    // BIGINT (or raw string) then VARCHAR so both engines print '123'
    "dq_schema_profile" -> {
      val canon =
        """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
          |    CAST(l_quantity AS BIGINT) AS quantity,
          |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
          |    CAST(datediff('day', DATE '1970-01-01',
          |      CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day
          |  FROM lineitem""".stripMargin
      val per = Seq("returnflag", "linestatus", "quantity",
        "price_cents", "ship_day").map { c =>
        s"""SELECT '$c' AS column_name, CAST(count($c) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val
           |FROM src""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH src AS (\n$canon\n)\n$per"
    },

    "dq_completeness" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(text IS NULL AS BIGINT)) AS BIGINT) AS text_null,
        |  CAST(sum(CAST(text = '' AS BIGINT)) AS BIGINT) AS text_empty,
        |  CAST(sum(CAST(lang IS NULL AS BIGINT)) AS BIGINT) AS lang_null,
        |  CAST(sum(CAST(source IS NULL AS BIGINT)) AS BIGINT)
        |    AS source_null,
        |  CAST(sum(CAST(n_chars IS NULL AS BIGINT)) AS BIGINT)
        |    AS n_chars_null,
        |  CAST((count(*) - sum(CAST(text IS NULL AS BIGINT))
        |    - sum(CAST(text = '' AS BIGINT))) * 1000000 // count(*)
        |    AS BIGINT) AS text_fill_ppm
        |FROM documents""".stripMargin,

    // enrichment twin: same dim join, same hour truncation and counts
    "events_enriched_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour_start,
        |  c_nationkey, count(*) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    // lifecycle twin: same per-order reduction and day diffs
    "a_order_lifecycle" ->
      """WITH l AS (
        |  SELECT l_orderkey, min(l_shipdate) AS fs, max(l_shipdate) AS ls,
        |    count(*) AS n_lines,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderkey, o_orderstatus,
        |  CAST(n_lines AS BIGINT) AS n_lines, total_qty,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(fs AS DATE))
        |    AS BIGINT) AS days_to_first_ship,
        |  CAST(datediff('day', CAST(fs AS DATE), CAST(ls AS DATE))
        |    AS BIGINT) AS ship_span_days
        |FROM orders JOIN l ON o_orderkey = l_orderkey""".stripMargin,

    // gap-histogram twin: same lead adjacency, same exact-microsecond
    // thresholds
    "events_gap_histogram" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) - epoch_us(ts) AS gap_us
        |  FROM events)
        |SELECT event_type,
        |  CASE WHEN gap_us < 60000000 THEN 'lt_1m'
        |       WHEN gap_us < 3600000000 THEN 'lt_1h'
        |       WHEN gap_us < 86400000000 THEN 'lt_1d'
        |       ELSE 'ge_1d' END AS gap_bucket,
        |  count(*) AS n, CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    // conversion-percentile twin: the lag stage replayed, then the same
    // nearest-rank selection per nation
    "events_conversion_percentiles" ->
      """WITH fv AS (
        |  SELECT user_id, min(ts) AS first_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1
        |), fp AS (
        |  SELECT e.user_id, min(e.ts) AS first_purchase,
        |    min(fv.first_view) AS first_view
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
        |  GROUP BY 1
        |), lags AS (
        |  SELECT user_id,
        |    CAST(epoch_us(first_purchase) - epoch_us(first_view) AS BIGINT)
        |      AS lag_micros
        |  FROM fp
        |), r AS (
        |  SELECT c_nationkey, lag_micros AS value, user_id,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY lag_micros, user_id) AS rn,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM lags JOIN customer ON user_id = c_custkey)
        |SELECT c_nationkey, p, value, n FROM r
        |CROSS JOIN (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT)),
        |  (CAST(99 AS BIGINT))) ps(p)
        |WHERE rn = greatest(1, (p * n + 99) // 100)""".stripMargin,

    // FK-orphan twin: the same five anti-join counts
    "dq_fk_orphans" ->
      """SELECT 'lineitem_orders' AS relation, count(*) AS n_orphans
        |FROM lineitem WHERE l_orderkey IS NOT NULL
        |  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |UNION ALL
        |SELECT 'lineitem_part', count(*) FROM lineitem
        |WHERE l_partkey IS NOT NULL
        |  AND l_partkey NOT IN (SELECT p_partkey FROM part)
        |UNION ALL
        |SELECT 'lineitem_supplier', count(*) FROM lineitem
        |WHERE l_suppkey IS NOT NULL
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
        |UNION ALL
        |SELECT 'orders_customer', count(*) FROM orders
        |WHERE o_custkey IS NOT NULL
        |  AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        |UNION ALL
        |SELECT 'customer_nation', count(*) FROM customer
        |WHERE c_nationkey IS NOT NULL
        |  AND c_nationkey NOT IN (SELECT n_nationkey FROM nation)"""
        .stripMargin,

    // top-k rollup twin: same rank order (rev desc, suppkey asc), same
    // conditional regrouping
    "a_topk_rollup" ->
      """WITH b AS (
        |  SELECT s_nationkey, s_suppkey,
        |    sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS rev_cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT s_nationkey, s_suppkey, rev_cents,
        |    row_number() OVER (PARTITION BY s_nationkey
        |      ORDER BY rev_cents DESC, s_suppkey) AS rk
        |  FROM b)
        |SELECT s_nationkey,
        |  CASE WHEN rk <= 3 THEN CAST(s_suppkey AS VARCHAR)
        |       ELSE 'other' END AS supplier,
        |  CAST(sum(rev_cents) AS BIGINT) AS rev_cents,
        |  count(*) AS n_suppliers
        |FROM r GROUP BY 1, 2""".stripMargin,

    // prefix-scan twin: the same total order replayed as an
    // unpartitioned running window (fine in DuckDB at sf0.01; the Spark
    // side deliberately avoids this single-partition shape)
    "a_prefix_scan" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_orderdate,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey, cents,
        |  CAST(coalesce(sum(cents) OVER (ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum_before_cents,
        |  CAST(sum(cents) OVER (ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_cents
        |FROM r""".stripMargin,

    // JSON roundtrip twin: a format re-encode can't change rows — replay
    // the same filter/agg on the parquet table
    // the CSV path replayed from parquet: a re-encode can never change
    // query results
    "s_csv_scan" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_bal_cents
        |FROM customer
        |WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0
        |GROUP BY 1""".stripMargin,

    "s_json_scan" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders
        |WHERE date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      BETWEEN 1000 AND 2000
        |GROUP BY 1""".stripMargin,

    // ORC roundtrip twin: same filter on the parquet table
    "s_orc_scan" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  coalesce(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT), 0) AS sum_cents
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 30""".stripMargin,

    // avro logical-type twin: date/timestamp aggregate replays on the
    // plain parquet table
    "s_avro_dates" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS first_day,
        |  max(o_orderdate) AS last_ts
        |FROM orders GROUP BY 1""".stripMargin,

    // avro decimal twin: exact decimal sum at scale 2 on both sides
    "s_avro_decimal" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    // avro round-trip twin: the filter+agg replays on the plain parquet
    // table — a hash match proves the container re-encode loses nothing
    "s_avro_scan" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM part WHERE p_size > 25 GROUP BY p_brand""".stripMargin,

    // simhash-md5 twin: vote sums and bit packing generated from the
    // same loop bounds as the Spark plan; md5 is the shared hash
    "dedup_simhash_md5" -> {
      val bits = 60
      val votes = (0 until bits).map(i =>
        s"sum(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i")
        .mkString(",\n    ")
      val pack = (0 until bits).map(i =>
        s"CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
        .mkString(" +\n    ")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
         |  FROM documents WHERE text IS NOT NULL
         |), h AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
         |  FROM toks WHERE t != ''
         |), v AS (
         |  SELECT doc_id,
         |    $votes
         |  FROM h GROUP BY 1)
         |SELECT doc_id, CAST($pack AS BIGINT) AS simhash60 FROM v"""
        .stripMargin
    },

    // hashed-decontamination twin for the XXHASH64 kernel (r16): token
    // hashes via the XxhSql string recursion (distinct tokens across
    // corpus AND benchmark), per-doc ordered hash lists, then each
    // 4-gram's ShingleHashes chain — g = 42 folded through 4
    // hashLong steps (closed-form layered projections, no recursion) —
    // per-doc DISTINCT, benchmark set distinct, inner join + count
    "decontaminate_hashed" -> {
      import graft.XxhSql
      val n = 4
      // chain g0=42 -> g4 over the slice elements sl[1..4]
      val chain = (1 to n).foldLeft(
        "(SELECT doc_id, side, sl FROM grams)") { (from, j) =>
        XxhSql.hashLong(from, s"sl[$j]",
          if (j == 1) "CAST(42 AS HUGEINT)" else s"g${j - 1}",
          s"g$j", s"c$j")
      }
      s"""WITH RECURSIVE
         |sides AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 50 = 7 THEN 'b' ELSE 'c' END AS side,
         |    string_split_regex(lower(trim(text)), '\\s+') AS tl
         |  FROM documents WHERE text IS NOT NULL),
         |occ0 AS (
         |  SELECT doc_id, side, unnest(list_transform(range(1, len(tl) + 1),
         |    i -> {'i': i, 't': tl[i]})) AS r
         |  FROM sides),
         |occ AS (SELECT doc_id, side, r.i AS i, r.t AS tok FROM occ0),
         |inp AS (SELECT tok AS key, tok AS s
         |        FROM (SELECT DISTINCT tok FROM occ) dt),
         |${XxhSql.stringHashCtes("inp")},
         |hl AS (
         |  SELECT doc_id, side, list(x.h ORDER BY o.i) AS hs
         |  FROM occ o JOIN xxout x ON x.key = o.tok
         |  GROUP BY 1, 2
         |  HAVING len(list(x.h)) >= $n),
         |grams AS (
         |  SELECT doc_id, side, unnest(list_transform(
         |    range(1, len(hs) - ${n - 2}), i -> hs[i:i+${n - 1}])) AS sl
         |  FROM hl),
         |gset AS (
         |  SELECT DISTINCT doc_id, side, g$n FROM $chain ch),
         |bset AS (SELECT DISTINCT g$n FROM gset WHERE side = 'b')
         |SELECT g.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_distinct_hits
         |FROM gset g JOIN bset b USING (g$n)
         |WHERE g.side = 'c'
         |GROUP BY 1""".stripMargin
    },

    // simhash twin for the XXHASH64 kernel itself (r16): graft.XxhSql
    // replays Spark's XXH64 bit-for-bit in HUGEINT mod-2^64 arithmetic —
    // per DISTINCT token (multiset votes re-expand through the
    // occurrence join), then the same ±1 votes / sign packing as the
    // kernel and the BRUTE hamming<=3 pair relation (the engine's
    // pigeonhole blocking is exact for <=maxHamming by construction and
    // pinned blocked==brute in DedupSpec)
    "dedup_simhash" -> {
      val votes = (0 until 64).map(i =>
        s"SUM(CASE WHEN (x.h // ${BigInt(1) << i}) % 2 = 1" +
          s" THEN 1 ELSE -1 END) AS b$i")
        .mkString(",\n    ")
      val pack = (0 until 64).map(i =>
        s"CASE WHEN b$i > 0 THEN CAST(${BigInt(1) << i} AS HUGEINT) ELSE 0 END")
        .mkString(" +\n    ")
      s"""WITH RECURSIVE
         |occ AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |  FROM documents WHERE text IS NOT NULL
         |),
         |inp AS (SELECT tok AS key, tok AS s
         |        FROM (SELECT DISTINCT tok FROM occ) dt),
         |${graft.XxhSql.stringHashCtes("inp")},
         |v AS (
         |  SELECT o.doc_id,
         |    $votes
         |  FROM occ o JOIN xxout x ON x.key = o.tok
         |  GROUP BY 1),
         |sh AS (
         |  SELECT doc_id, ${graft.XxhSql.signed(s"($pack)")} AS f FROM v)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.f, b.f)) <= 3""".stripMargin
    },

    // minhash-LSH twin for the XXHASH64 kernels (r16): token hashes via
    // the XxhSql recursion; 2-gram ShingleHashes = two hashLong folds;
    // per-doc distinct sorted sets collapse to groups; MinHashSignature =
    // per-salt hashLong minima over set elements (salts from the SAME
    // XXH64.hashInt generator the kernel reads — they cannot drift);
    // band bucket = xxhash64(band, joined decimal strings) replayed with
    // a per-row seed recursion (the engine keys bands by the raw slice;
    // both group the same sets unless two slices collide in 64 bits);
    // candidates from shared (band, bucket), exact-Jaccard >= 0.8 confirm on the hash sets, member
    // expansion + intra pairs. Signed/unsigned forms tracked explicitly:
    // minima compare SIGNED longs (the kernel's Long compare), hashes
    // compute in unsigned HUGEINT
    "dedup_minhash_lsh" -> {
      import graft.XxhSql
      val uSalt: Int => BigInt = i => {
        val s0 = XxhSql.hashInt(i, 42L)
        BigInt(s0) + (if (s0 < 0) BigInt(2).pow(64) else BigInt(0))
      }
      val saltRows = (0 until 32)
        .map(i => s"($i, CAST(${uSalt(i)} AS HUGEINT))").mkString(", ")
      val bandSeed = (0 until 8)
        .map(i => s"WHEN $i THEN CAST(${uSalt(i)} AS HUGEINT)")
        .mkString(" ")
      // ShingleHashes chain over the 2-element slice
      val g1 = XxhSql.hashLong("(SELECT doc_id, sl FROM gr)", "sl[1]",
        "CAST(42 AS HUGEINT)", "g1", "s1")
      val g2 = XxhSql.hashLong(g1, "sl[2]", "g1", "g2", "s2")
      // MinHashSignature inner hash over (element, salt) rows
      val hv = XxhSql.hashLong(
        s"(SELECT e, ${XxhSql.unsigned("e")} AS l, si, salt" +
          " FROM (SELECT DISTINCT e FROM elems) de CROSS JOIN salts)",
        "l", "salt", "hh", "mh")
      s"""WITH RECURSIVE
         |tl AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tl
         |  FROM documents WHERE text IS NOT NULL),
         |occ0 AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tl) + 1),
         |    i -> {'i': i, 't': tl[i]})) AS r
         |  FROM tl),
         |occ AS (SELECT doc_id, r.i AS i, r.t AS tok FROM occ0),
         |inp AS (SELECT tok AS key, tok AS s
         |        FROM (SELECT DISTINCT tok FROM occ) dt),
         |${XxhSql.stringHashCtes("inp")},
         |hl AS (
         |  SELECT doc_id, list(x.h ORDER BY o.i) AS hs
         |  FROM occ o JOIN xxout x ON x.key = o.tok
         |  GROUP BY 1 HAVING len(list(x.h)) >= 2),
         |gr AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, len(hs)), i -> hs[i:i+1])) AS sl
         |  FROM hl),
         |shs AS (
         |  SELECT doc_id,
         |    list_sort(list(DISTINCT ${XxhSql.signed("g2")})) AS sh
         |  FROM $g2 ch GROUP BY 1),
         |grp AS MATERIALIZED (
         |  SELECT sh AS key, min(doc_id) AS rep, list(doc_id) AS ids,
         |    count(*) AS n_same
         |  FROM shs GROUP BY 1),
         |elems AS (SELECT rep, unnest(key) AS e FROM grp),
         |salts(si, salt) AS (VALUES $saltRows),
         |eh AS MATERIALIZED (
         |  SELECT e, si, ${XxhSql.signed("hh")} AS hs FROM $hv hz),
         |sigm AS (
         |  SELECT el.rep, eh.si, min(eh.hs) AS m
         |  FROM elems el JOIN eh ON eh.e = el.e GROUP BY 1, 2),
         |sigl AS (SELECT rep, list(m ORDER BY si) AS sig FROM sigm
         |         GROUP BY 1),
         |bst AS (
         |  SELECT {'r': rep, 'b': b} AS key,
         |    array_to_string(list_transform(sig[4*b+1:4*b+4],
         |      x -> CAST(x AS VARCHAR)), ',') AS s,
         |    CASE b $bandSeed END AS bs
         |  FROM sigl CROSS JOIN range(0, 8) rb(b)),
         |inp2 AS (SELECT key, s, bs FROM bst),
         |${XxhSql.stringHashCtes("inp2", seed = "bs", prefix = "bk")},
         |buck AS MATERIALIZED (
         |  SELECT key.r AS rep, key.b AS band, h AS bucket
         |  FROM bkxxout),
         |cand AS (
         |  SELECT DISTINCT a.rep AS ra, b.rep AS rb
         |  FROM buck a JOIN buck b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.rep < b.rep),
         |ver AS (
         |  SELECT c.ra, c.rb,
         |    len(list_intersect(ga.key, gb.key)) AS inter,
         |    len(ga.key) + len(gb.key) - len(list_intersect(ga.key, gb.key))
         |      AS un
         |  FROM cand c
         |  JOIN grp ga ON ga.rep = c.ra
         |  JOIN grp gb ON gb.rep = c.rb),
         |keep AS (
         |  SELECT ra, rb, inter FROM ver
         |  WHERE CAST(inter AS DOUBLE) / un >= 0.8),
         |mem AS (SELECT rep, unnest(ids) AS m FROM grp),
         |crossp AS (
         |  SELECT least(ma.m, mb.m) AS id_a, greatest(ma.m, mb.m) AS id_b,
         |    k.inter AS intersection
         |  FROM keep k
         |  JOIN mem ma ON ma.rep = k.ra
         |  JOIN mem mb ON mb.rep = k.rb),
         |intra AS (
         |  SELECT m1.m AS id_a, m2.m AS id_b, len(g.key) AS intersection
         |  FROM grp g
         |  JOIN mem m1 ON m1.rep = g.rep
         |  JOIN mem m2 ON m2.rep = g.rep AND m1.m < m2.m
         |  WHERE g.n_same > 1)
         |SELECT id_a, id_b, CAST(intersection AS BIGINT) AS intersection
         |FROM (SELECT * FROM crossp UNION ALL SELECT * FROM intra) u"""
        .stripMargin
    },

    // minhash-md5 twin: the (a, b) constants come from the SAME Scala
    // generator the Spark plan uses — the literals can't drift
    "dedup_minhash_md5" -> {
      val mins = org.apache.spark.sql.graft.MinHashSignature.md5Consts(32).zipWithIndex
        .map { case ((a, b), i) =>
          s"CAST(min((h * $a + $b) % 2147483647) AS BIGINT) AS m$i" }
        .mkString(",\n    ")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents WHERE text IS NOT NULL
         |), sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM toks WHERE len(t) >= 2
         |), h AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT) AS h
         |  FROM sh)
         |SELECT doc_id,
         |  $mins
         |FROM h GROUP BY 1""".stripMargin
    },

    // trailing-distinct twin: same presence reduction, same 7-day range
    // expansion, same exact distinct count
    "events_trailing_distinct" ->
      """WITH pres AS (
        |  SELECT DISTINCT CAST(datediff('day', DATE '1970-01-01',
        |    CAST(ts AS DATE)) AS BIGINT) AS day, user_id
        |  FROM events
        |), days AS (SELECT DISTINCT day AS d FROM pres)
        |SELECT d AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
        |FROM pres JOIN days ON pres.day BETWEEN d - 6 AND d
        |GROUP BY 1""".stripMargin,

    // the HLL++ windowed swap replayed exactly: the same (anchor, user)
    // pair table fed to the graft.HllSql estimator replay — merging
    // per-day registers over [d-6, d] equals approx_count_distinct over
    // the window's users (slot maxes commute with the union)
    "events_trailing_distinct_hllpp" -> HllSql.approxCountDistinctSql(
      """(SELECT w.d AS day, p.user_id AS user_id
        | FROM (SELECT DISTINCT CAST(datediff('day', DATE '1970-01-01',
        |    CAST(ts AS DATE)) AS BIGINT) AS day, user_id FROM events) p
        | JOIN (SELECT DISTINCT CAST(datediff('day', DATE '1970-01-01',
        |    CAST(ts AS DATE)) AS BIGINT) AS d FROM events) w
        |   ON p.day BETWEEN w.d - 6 AND w.d) tw""".stripMargin,
      "day", "user_id", "n_users_7d_hllpp", 0.02),

    // overlap twin: presence-table self-join; zero-overlap pairs emit
    // with 0 via the crossed segment list (matches the Spark shape)
    "events_user_overlap" ->
      """WITH seg AS (
        |  SELECT DISTINCT event_type AS seg, user_id FROM events
        |), both_c AS (
        |  SELECT a.seg AS seg_a, b.seg AS seg_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM seg a JOIN seg b USING (user_id)
        |  WHERE a.seg < b.seg GROUP BY 1, 2
        |), sizes AS (
        |  SELECT seg AS seg_a, CAST(count(*) AS BIGINT) AS n_a
        |  FROM seg GROUP BY 1
        |), pairs AS (
        |  SELECT s1.seg AS seg_a, s2.seg AS seg_b
        |  FROM (SELECT DISTINCT seg FROM seg) s1,
        |       (SELECT DISTINCT seg FROM seg) s2
        |  WHERE s1.seg < s2.seg
        |)
        |SELECT p.seg_a, p.seg_b,
        |  COALESCE(b.n_both, 0) AS n_both,
        |  z.n_a - COALESCE(b.n_both, 0) AS n_a_only
        |FROM pairs p
        |LEFT JOIN both_c b ON p.seg_a = b.seg_a AND p.seg_b = b.seg_b
        |JOIN sizes z ON p.seg_a = z.seg_a""".stripMargin,

    // the theta-sketch overlap matrix replayed exactly (r17): below
    // k=4096 distinct ids per segment a theta sketch is in EXACT mode by
    // the DataSketches contract — intersection/AnotB results ARE the set
    // cardinalities and floor() is the identity on them — so the oracle
    // is the exact pair matrix (same SQL as the presence-table twin; the
    // estimation-mode error law above k stays spec-pinned)
    "events_user_overlap_sketch" ->
      """WITH seg AS (
        |  SELECT DISTINCT event_type AS seg, user_id FROM events
        |), both_c AS (
        |  SELECT a.seg AS seg_a, b.seg AS seg_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM seg a JOIN seg b USING (user_id)
        |  WHERE a.seg < b.seg GROUP BY 1, 2
        |), sizes AS (
        |  SELECT seg AS seg_a, CAST(count(*) AS BIGINT) AS n_a
        |  FROM seg GROUP BY 1
        |), pairs AS (
        |  SELECT s1.seg AS seg_a, s2.seg AS seg_b
        |  FROM (SELECT DISTINCT seg FROM seg) s1,
        |       (SELECT DISTINCT seg FROM seg) s2
        |  WHERE s1.seg < s2.seg
        |)
        |SELECT p.seg_a, p.seg_b,
        |  COALESCE(b.n_both, 0) AS n_both,
        |  z.n_a - COALESCE(b.n_both, 0) AS n_a_only
        |FROM pairs p
        |LEFT JOIN both_c b ON p.seg_a = b.seg_a AND p.seg_b = b.seg_b
        |JOIN sizes z ON p.seg_a = z.seg_a""".stripMargin,

    // session-window twin: gaps-and-islands — a session breaks when the
    // inter-event gap REACHES 30 minutes (Spark's window end is
    // exclusive: an event exactly at end starts a new session)
    "events_session_window" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) AS tus FROM events
        |), f AS (
        |  SELECT user_id, tus,
        |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
        |           IS NULL
        |         OR tus - lag(tus) OVER (PARTITION BY user_id
        |           ORDER BY tus) >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM d
        |), s AS (
        |  SELECT user_id, tus,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT e.user_id,
        |  CAST(min(e.tus) AS BIGINT) AS session_start_us,
        |  CAST(max(e.tus) + 1800000000 AS BIGINT) AS session_end_us,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT e.event_type) AS BIGINT) AS n_types
        |FROM (SELECT user_id, epoch_us(ts) AS tus, event_type
        |      FROM events) e
        |JOIN s ON e.user_id = s.user_id AND e.tus = s.tus
        |GROUP BY e.user_id, s.sid""".stripMargin,

    // top-k-per-key twin: the rank window the custom operator replaces
    "o_topk_per_key" ->
      """WITH r AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT) DESC,
        |        l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, price_cents
        |FROM r WHERE rn <= 2""".stripMargin,

    // rewrite-rule twin: identical semantics to o_topk_per_key — the
    // rewrite must be invisible in results
    "o_topk_rewrite" ->
      """WITH r AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT) DESC,
        |        l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, price_cents
        |FROM r WHERE rn <= 2""".stripMargin,

    // footer-stats twin: parquet min/max/count statistics are exact —
    // the plain aggregate
    "s_agg_footer_stats" ->
      """SELECT count(*) AS n_rows,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
        |  CAST(min(l_quantity) AS BIGINT) AS min_qty,
        |  CAST(max(l_quantity) AS BIGINT) AS max_qty
        |FROM lineitem""".stripMargin
  )
}
