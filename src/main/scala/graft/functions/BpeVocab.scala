package graft.functions

/** The engine's committed byte-level BPE vocabulary — GPT-2-style
  * (Sennrich et al. 2016 merges; Radford et al. 2019 byte-level
  * variant, both public): base tokens are the 256 byte values, merge
  * i creates token id 256+i, and encoding repeatedly merges the
  * LOWEST-RANK adjacent pair (leftmost on ties) within each
  * pretoken until none remains. Pretokens come from the same
  * committed regex the token-count surfaces already use
  * ([[pretokenPattern]]), so "BPE tokens" and the earlier
  * "BPE-ish pretokens" count the same text boundaries.
  *
  * The merge table is FROZEN TRAINER OUTPUT, not hand-authored: it
  * is exactly what the byte-level BPE trainer makes of a committed
  * seed corpus (both live in the test tree, where GoldenVectorSpec
  * pins the equality), so greedy min-rank encoding reproduces the
  * training dynamics — space-prefixed word tokens like " table"
  * genuinely form, the way a real trained vocabulary behaves. Freezing (rather than training
  * at session start) is the production contract: a tokenizer is a
  * versioned artifact — token ids must be stable across runs, or
  * every token count, budget, and packed sequence in the lake
  * silently shifts meaning.
  *
  * The oracle replays encoding in SQL from the (a, b) pairs of
  * [[merges]]: pair rank looked up by the `a*1000+b` key (ids stay
  * < 1000 — enforced below), min-rank position spliced per recursion
  * step. See TrainingPack's `bpeCtes`.
  */
object BpeVocab {

  /** Pretokenizer (committed, shared with the token-count oracle
    * SQL): space-prefixed lowercase word runs, digit runs, punct
    * runs, whitespace runs — the GPT-2 pretokenization shape over
    * the lowercased corpus this engine's text surfaces use.
    */
  val pretokenPattern: String = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+"

  /** The frozen merge table: (left id, right id) in rank order —
    * EXACTLY the trainer's output over the seed corpus (spec-pinned).
    * Merge i creates token id 256 + i.
    */
  val merges: Vector[(Int, Int)] = Vector(
    (116, 104), (256, 101), (32, 257), (32, 97), (32, 115), (110, 100),
    (259, 261), (111, 114), (101, 114), (111, 119), (116, 97), (32, 98),
    (32, 105), (32, 119), (108, 101), (32, 99), (97, 110), (103, 114),
    (46, 46), (97, 115), (98, 270), (105, 110), (111, 117), (266, 276),
    (269, 105), (32, 109), (32, 112), (32, 279), (97, 108), (99, 272),
    (260, 263), (260, 285), (268, 115), (286, 116), (10, 10), (32, 49),
    (32, 102), (32, 114), (32, 118), (101, 97), (101, 101), (101, 115),
    (259, 273), (261, 265), (280, 299), (282, 97), (298, 296), (32, 100),
    (32, 104), (32, 106), (32, 107), (32, 273), (48, 48), (50, 48),
    (97, 116), (99, 104), (101, 121), (108, 265), (110, 116), (111, 277),
    (116, 263), (117, 101), (260, 313), (264, 103), (267, 310), (271, 278),
    (274, 46), (275, 116), (277, 101), (278, 112), (281, 319), (284, 317),
    (292, 323), (294, 327), (305, 315), (306, 312), (307, 325), (320, 311),
    (321, 314), (32, 108), (32, 111), (32, 113), (32, 263), (32, 309),
    (97, 266), (100, 115), (100, 264), (101, 109), (101, 110), (105, 108),
    (109, 284), (114, 116), (117, 264), (260, 112), (260, 316), (260, 346),
    (267, 121), (268, 110), (275, 104), (280, 256), (287, 115), (291, 57),
    (291, 308), (293, 265), (293, 295), (301, 256), (301, 347), (303, 340),
    (304, 354), (326, 101), (335, 324), (337, 348), (338, 342), (350, 101),
    (351, 108), (360, 341), (367, 121), (32, 33), (32, 45), (32, 61),
    (32, 110), (32, 121), (32, 344), (47, 47), (57, 53), (58, 379),
    (97, 109), (97, 114), (97, 121), (98, 101), (99, 316), (101, 120),
    (101, 386), (103, 103), (103, 324), (104, 295), (105, 103), (105, 116),
    (108, 108), (108, 115), (108, 117), (108, 272), (109, 110), (109, 264),
    (111, 396), (111, 399), (112, 270), (114, 295), (114, 393), (115, 101),
    (115, 116), (116, 112), (116, 264), (116, 343), (116, 403), (116, 407),
    (117, 406), (118, 264), (121, 115), (259, 389))

  /** Fast rank lookup table keyed by a*1024+b (ids < 1024 — checked
    * at init). -1 = pair not in the table. ~4 MB, built once.
    */
  lazy val rankLut: Array[Int] = {
    require(256 + merges.length < 1000,
      "token ids must stay < 1000 (the oracle's a*1000+b key encoding)")
    val lut = Array.fill(1024 * 1024)(-1)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      require(a < 256 + i && b < 256 + i,
        s"merge $i references a token not yet formed: ($a, $b)")
      lut((a << 10) | b) = i
    }
    lut
  }
}
