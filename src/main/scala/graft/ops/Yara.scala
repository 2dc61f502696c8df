package graft.ops

import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** I12: YARA content rules over session payload bytes.
  *
  * The reference compiles rule files with libyara and tags matching
  * sessions `yara:<identifier>` (capture/yara.c:141-163, scan invoked
  * from the parser dispatch, parsers.c:1101). This implements the core
  * of the rule language natively — enough for typical network-content
  * rules (including the reference's tests/rules.yara):
  *
  *   - `strings:` text (`"..."` with `nocase`/`wide`/`ascii`/
  *     `fullword`), hex (`{ AA ?? BB }` with `??` wildcards and
  *     `[n]`/`[lo-hi]` jumps), and regex (`/re/`) entries;
  *   - `condition:` boolean algebra over string ids, `any/all/N of
  *     them`, `of ($prefix*)` string sets, positional `$x in (lo .. hi)`
  *     and `$x at n`, occurrence counts (`#x >= n`), and `filesize`
  *     comparisons with KB/MB/GB literals;
  *   - rule tags (`rule Name : tag1 tag2`);
  *   - a math/hash module subset: `math.entropy/mean/deviation/
  *     min/max/abs/in_range`, `math.MEAN_BYTES`, float literals with
  *     YARA's int→float promotion, and `hash.md5/sha1/sha256(off,
  *     len) == "hex"` compares (`import` lines outside rule bodies
  *     are tolerated and ignored);
  *   - YARA 4.x quantifiers (`none of them`, `50% of them`, also in
  *     `for` heads) and the `defined` operator;
  *   - pe/elf module fields (`pe.machine/entry_point/is_dll()/…`,
  *     `elf.type/machine/…`) parsed from the payload per the public
  *     PE/COFF and ELF specs, including the section table
  *     (`pe.sections[i].name/virtual_address/virtual_size/
  *     raw_data_offset/raw_data_size/characteristics`, via indexed
  *     loops or the `for any section in pe.sections : (…)` iterator
  *     form; `elf.sections[i].*` via the shstrtab likewise), the
  *     export table (`pe.number_of_exports`, `pe.dll_name`,
  *     `pe.exports("name")`), the import table (`pe.number_of_imports`,
  *     `pe.number_of_imported_functions`, `pe.imports("dll"[, "func"])`)
  *     and `pe.imphash()` (the public pefile/Mandiant normalization;
  *     ordinal imports hash as `ordN` — no baked-in ws2_32/oleaut32
  *     ordinal-name table), `pe.version_info["Key"]`,
  *     `pe.overlay.offset/size` and the Rich header
  *     (`pe.rich_signature.*`);
  *   - a `magic` module subset (`magic.type()`/`magic.mime_type()`)
  *     over a deterministic signature table, plus YARA string
  *     operators (`contains/icontains/startswith/…` and
  *     `matches /re/[is]`, unanchored search) on module strings.
  *
  * Scanning is a pure function over byte arrays, so it distributes as a
  * UDF over payload columns — each executor compiles nothing and shares
  * the broadcast rule list.
  */
object Yara {

  // ------------------------------------------------------------- model
  sealed trait Matcher {
    /** All (offset, length) matches of this string in `b`, offset-sorted
      * and offset-distinct (when needle variants — wide, xor keys,
      * base64 alignments — collide on an offset, the first variant's
      * length is reported, like YARA's first-match bookkeeping).
      */
    def hits(b: Array[Byte]): Seq[(Int, Int)]
    /** All match offsets (start positions) of this string in `b`. */
    final def offsets(b: Array[Byte]): Seq[Int] = hits(b).map(_._1)
    def matches(b: Array[Byte]): Boolean = hits(b).nonEmpty
  }

  /** Text needle; `nocase` folds ASCII case; `wide` also tries UTF-16LE. */
  final case class TextMatcher(text: String, nocase: Boolean, wide: Boolean,
      fullword: Boolean = false) extends Matcher {
    private val needles: Seq[Array[Byte]] = {
      val ascii = text.getBytes(StandardCharsets.ISO_8859_1)
      if (wide) Seq(ascii, text.flatMap(c => Seq(c, '\u0000')).mkString
        .getBytes(StandardCharsets.ISO_8859_1))
      else Seq(ascii)
    }
    private def lower(x: Byte): Byte =
      if (x >= 'A' && x <= 'Z') (x + 32).toByte else x
    private def alnum(x: Byte): Boolean =
      (x >= '0' && x <= '9') || (x >= 'A' && x <= 'Z') ||
        (x >= 'a' && x <= 'z')
    def hits(b: Array[Byte]): Seq[(Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int)]
      needles.foreach { n =>
        var i = 0
        while (i + n.length <= b.length) {
          var j = 0
          while (j < n.length && (if (nocase) lower(b(i + j)) == lower(n(j))
            else b(i + j) == n(j))) j += 1
          if (j == n.length &&
            (!fullword ||
              ((i == 0 || !alnum(b(i - 1))) &&
               (i + n.length == b.length || !alnum(b(i + n.length))))))
            out += ((i, n.length))
          i += 1
        }
      }
      out.result().sortBy(_._1).distinctBy(_._1)
    }
  }

  /** Hex pattern token: exact byte, `??` wildcard, or a `[lo-hi]` jump
    * (YARA's variable-length gap; `[n]` is `[n-n]`).
    */
  sealed trait HexTok
  final case class HexByte(v: Int) extends HexTok
  case object HexAny extends HexTok
  /** Half-wildcard nibble: `?A` masks the high nibble, `A?` the low. */
  final case class HexMasked(v: Int, mask: Int) extends HexTok
  final case class HexJump(lo: Int, hi: Int) extends HexTok

  /** Hex pattern with wildcards and jumps (DFS over jump lengths; rule
    * patterns are short, payloads bounded by the capture snap length).
    */
  final case class HexMatcher(pattern: Array[HexTok]) extends Matcher {
    /** End index of the match starting at i0, or -1; jumps try the
      * SHORTEST gap first, so a variable pattern reports its shortest
      * match length at each offset.
      */
    private def matchAt(b: Array[Byte], i0: Int, t0: Int): Int = {
      var i = i0
      var t = t0
      while (t < pattern.length) {
        pattern(t) match {
          case HexByte(v) =>
            if (i >= b.length || (b(i) & 0xff) != v) return -1
            i += 1; t += 1
          case HexAny =>
            if (i >= b.length) return -1
            i += 1; t += 1
          case HexMasked(v, mask) =>
            if (i >= b.length || (b(i) & mask) != v) return -1
            i += 1; t += 1
          case HexJump(lo, hi) =>
            var g = lo
            while (g <= hi && i + g <= b.length) {
              val e = matchAt(b, i + g, t + 1)
              if (e >= 0) return e
              g += 1
            }
            return -1
        }
      }
      i
    }
    def hits(b: Array[Byte]): Seq[(Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int)]
      var i = 0
      while (i <= b.length - 1) {
        val e = matchAt(b, i, 0)
        if (e >= 0) out += ((i, e - i))
        i += 1
      }
      out.result()
    }
  }
  object HexMatcher {
    def bytes(vs: Int*): HexMatcher =
      HexMatcher(vs.map(v => if (v == -1) HexAny else HexByte(v))
        .toArray[HexTok])
  }

  /** `xor` modifier: the text under every single-byte XOR key in
    * [lo, hi] (YARA defaults to the full 0x00-0xff range). YARA forbids
    * combining with nocase; enforced at parse.
    */
  final case class XorMatcher(text: String, lo: Int = 0, hi: Int = 255,
      wide: Boolean = false) extends Matcher {
    private val plains: Seq[Array[Byte]] = {
      val ascii = text.getBytes(StandardCharsets.ISO_8859_1)
      if (wide) Seq(ascii, text.flatMap(c => Seq(c, '\u0000')).mkString
        .getBytes(StandardCharsets.ISO_8859_1))
      else Seq(ascii)
    }
    def hits(b: Array[Byte]): Seq[(Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int)]
      plains.foreach { p =>
        var key = lo
        while (key <= hi) {
          var i = 0
          while (i + p.length <= b.length) {
            var j = 0
            while (j < p.length && (b(i + j) ^ key).toByte == p(j)) j += 1
            if (j == p.length) out += ((i, p.length))
            i += 1
          }
          key += 1
        }
      }
      out.result().sortBy(_._1).distinctBy(_._1)
    }
  }

  /** `base64` / `base64wide` modifiers: the three alignment-shifted
    * base64 encodings of the text, partial leading/trailing sextets
    * trimmed (YARA's documented semantics: prepend 0/1/2 dummy bytes,
    * encode, strip the characters whose bits mix with the padding).
    * `wide` interleaves the RESULTING base64 needles with NULs.
    */
  final case class Base64Matcher(text: String, wide: Boolean = false)
      extends Matcher {
    private val needles: Seq[Array[Byte]] = {
      val raw = text.getBytes(StandardCharsets.ISO_8859_1)
      val enc = java.util.Base64.getEncoder
      val variants = (0 to 2).map { pad =>
        val padded = Array.fill[Byte](pad)(0) ++ raw
        var s = enc.encodeToString(padded).replaceAll("=+$", "")
        // leading chars sharing bits with the dummy prefix: pad bytes
        // occupy ceil(pad*8/6) leading sextets, and the next sextet mixes
        // pad-tail bits with the first real byte when pad*8 % 6 != 0
        val lead = (pad * 8 + 5) / 6
        s = s.substring(lead)
        // trailing sextet mixing real bits with padding zeros
        val totalBits = padded.length * 8
        if (totalBits % 6 != 0) s = s.substring(0, s.length - 1)
        s
      }.distinct
      variants.map { v =>
        if (wide) v.flatMap(c => Seq(c, '\u0000')).mkString
          .getBytes(StandardCharsets.ISO_8859_1)
        else v.getBytes(StandardCharsets.ISO_8859_1)
      }
    }
    def hits(b: Array[Byte]): Seq[(Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int)]
      needles.filter(_.nonEmpty).foreach { n =>
        var i = 0
        while (i + n.length <= b.length) {
          var j = 0
          while (j < n.length && b(i + j) == n(j)) j += 1
          if (j == n.length) out += ((i, n.length))
          i += 1
        }
      }
      out.result().sortBy(_._1).distinctBy(_._1)
    }
  }

  /** Regex over the latin-1 view of the bytes (YARA regex semantics);
    * `nocase` is the word modifier (a silent no-op before round 7).
    */
  final case class RegexMatcher(re: String, nocase: Boolean = false)
      extends Matcher {
    private val p = java.util.regex.Pattern.compile(re,
      if (nocase) java.util.regex.Pattern.CASE_INSENSITIVE else 0)
    def hits(b: Array[Byte]): Seq[(Int, Int)] = {
      val m = p.matcher(new String(b, StandardCharsets.ISO_8859_1))
      val out = Seq.newBuilder[(Int, Int)]
      while (m.find()) out += ((m.start(), m.end() - m.start()))
      out.result()
    }
  }

  sealed trait Cond
  final case class Ref(id: String) extends Cond
  /** `$a in (lo..hi)` — bounds are full numeric expressions
    * (`$a in (0..filesize)` is the idiom real rules use constantly).
    */
  final case class InRange(id: String, lo: NumE, hi: NumE) extends Cond
  final case class At(id: String, offset: NumE) extends Cond
  /** `#a in (lo..hi)` (YARA 4.x): occurrences within the byte range. */
  final case class CountInRange(id: String, op: String, n: NumE,
      lo: NumE, hi: NumE) extends Cond
  /** Reference to another rule's verdict (must be defined earlier in the
    * file, as YARA requires).
    */
  final case class RuleRef(name: String) extends Cond
  /** `<numExpr> op <numExpr>` — the general numeric comparison that
    * subsumes `uintN(off) == v`, `#a >= n`, `filesize > 1KB`,
    * `@a[i] + 4 == @b[i]`, `uint32(uint32(0x3c)) == 0x4550`, …
    * Either side undefined (out-of-range read/ordinal, div by zero)
    * makes the comparison false — YARA's undefined propagation.
    */
  final case class NumCmp(a: NumE, op: String, b: NumE) extends Cond
  /** `N of them` / `of ($p*)` / `of ($a, $b, $p*)`: `prefix` is the
    * single-star form, `ids` the explicit set (entries ending `*` match
    * by prefix); both empty = `them`. `range` is the 4.3 `of … in
    * (lo..hi)` form — a string only counts if one of its offsets falls
    * inside the range.
    */
  final case class OfThem(n: Option[Int], prefix: Option[String] = None,
      ids: Seq[String] = Nil, range: Option[(NumE, NumE)] = None,
      pct: Boolean = false) extends Cond
  /** A numeric operand inside conditions, `for` bounds/bodies and range
    * brackets: literal, string count (`#a`), offset/length ordinal,
    * `filesize`, a (possibly nested) `uintN`/`intN` payload read, or an
    * arithmetic/bitwise combination of those.
    */
  sealed trait NumE
  final case class NumLit(v: Long) extends NumE
  /** Float literal (`7.0`) or float constant (`math.MEAN_BYTES`).
    * YARA's numeric tower is int64 + double with int→float promotion
    * at any mixed-type operator; [[NumV]] carries the distinction.
    */
  final case class NumFloat(v: Double) extends NumE
  /** `math.<fn>(args…)` — the math-module subset used by content
    * rules (the reference links the full libyara module set;
    * capture/yara.c:141-163 scans with whatever modules the rule
    * imports): `entropy(off, len)` Shannon bits/byte, `mean(off,
    * len)`, `deviation(off, len, mean)` (mean absolute deviation,
    * like libyara's), `min`/`max`/`abs` (type-preserving). Arity is
    * checked at parse time; an out-of-range (off, len) slice is
    * undefined (None), like the module's own range checks.
    */
  final case class NumFun(name: String, args: Seq[NumE]) extends NumE
  /** `pe.<field>` / `elf.<field>` module header field (or boolean
    * function like `pe.is_dll()`, 1/0). Undefined when the payload is
    * not a parseable PE/ELF image — conditions on it are then false,
    * like libyara's module undefined propagation.
    */
  final case class ModField(name: String) extends NumE
  final case class NumCount(id: String) extends NumE
  /** `@id[k]` (offset) or `!id[k]` (match length, `len = true`) as a
    * numeric operand; `ord` None = the enclosing loop variable.
    * Undefined ordinals make the enclosing comparison false (YARA's
    * undefined-value propagation).
    */
  final case class NumOffset(id: String, ord: Option[Int],
      len: Boolean = false) extends NumE
  /** `filesize` as a numeric operand. */
  case object NumFilesize extends NumE
  /** The enclosing `for` loop's index variable as a numeric operand
    * (`pe.sections[i].raw_data_size` inside `for any i in (0..n)`).
    */
  case object NumLoopVar extends NumE
  /** `uint8/16/32[be](offsetExpr)` / `intN[be](offsetExpr)` — the
    * magic-number payload reads; the offset is itself an expression, so
    * the classic PE idiom `uint32(uint32(0x3c)) == 0x4550` nests.
    * Default little-endian like YARA; `signed` sign-extends.
    */
  final case class NumRead(width: Int, bigEndian: Boolean,
      signed: Boolean, off: NumE) extends NumE
  /** Binary arithmetic/bitwise operator: `+ - * \ % & | ^ << >>`
    * (YARA spells integer division `\`). Division/modulo by zero and
    * negative shift counts are undefined (None); shifts ≥ 64 yield 0
    * per the YARA spec.
    */
  final case class NumBin(op: String, a: NumE, b: NumE) extends NumE
  /** Unary `-` / `~`. */
  final case class NumUn(op: String, a: NumE) extends NumE
  /** `for <q> i in (lo..hi) : ( … )` over occurrence ordinals (1-based,
    * like YARA's `@a[i]`). The body is a Cond tree whose
    * [[OffIdxCmp]]/[[OffIdxIn]] leaves read `@id[i]` under the binding.
    */
  final case class ForIndex(n: Option[Int], lo: NumE, hi: NumE,
      body: Cond) extends Cond
  /** `@id[i] in (lo..hi)` / `!id[i] in (lo..hi)`; `ord` None = the
    * enclosing [[ForIndex]] loop variable, Some(k) = constant ordinal.
    * (The comparison form `@id[i] op rhs` is just [[NumCmp]] over a
    * [[NumOffset]] operand.)
    */
  final case class OffIdxIn(id: String, lo: NumE, hi: NumE,
      len: Boolean = false, ord: Option[Int] = None) extends Cond
  /** `for <q> of <set> : ( … )`: the body is an ordinary Cond over the
    * placeholder id `$` (`$`, `$ at`, `$ in`, `#`, `@[k]`, `![k]` all
    * parse to id "$"), re-bound to each string of the set in turn.
    */
  final case class ForOf(n: Option[Int], prefix: Option[String],
      ids: Seq[String], body: Cond, pct: Boolean = false) extends Cond
  /** `hash.md5/sha1/sha256(off, len) ==/!= "hex"` — the hash-module
    * compare form content rules use for known-artifact pinning. The
    * digest is hex-compared case-insensitively (YARA emits lowercase);
    * an out-of-range slice is undefined → false.
    */
  final case class HashCmp(alg: String, off: NumE, len: NumE,
      op: String, hex: String) extends Cond
  /** `math.in_range(expr, lo, hi)` — boolean module function, float
    * bounds allowed.
    */
  final case class MathInRange(x: NumE, lo: NumE, hi: NumE) extends Cond
  /** `defined expr` (YARA 4.x) — true iff the operand evaluates to a
    * defined value (in-range read/ordinal/slice, parseable module
    * field).
    */
  final case class Defined(e: NumE) extends Cond
  /** `pe.sections[<idx>].<member>` numeric members (virtual_address,
    * virtual_size, raw_data_offset, raw_data_size, characteristics);
    * the index is a full expression (loop variables ride through it).
    * Undefined out of range / on a non-PE payload.
    */
  final case class SecField(field: String, idx: NumE) extends NumE
  /** `elf.sections[<idx>].<member>` numeric members (type, flags,
    * address, offset, size). Undefined out of range / on a non-ELF
    * payload.
    */
  final case class ElfSecField(field: String, idx: NumE) extends NumE
  /** `elf.segments[<idx>].<member>` numeric members (type, flags,
    * offset, virtual_address, file_size, memory_size).
    */
  final case class ElfSegField(field: String, idx: NumE) extends NumE
  /** `pe.resources[<idx>].<member>` numeric members (type, id,
    * language, offset, length); numeric type/id are undefined on
    * string-named levels (use the `_string` forms).
    */
  final case class ResField(field: String, idx: NumE) extends NumE
  /** String-valued module expression. */
  sealed trait StrE
  /** `pe.sections[<idx>].name` — the 8-byte short name, NUL-cut. */
  final case class SecNameE(idx: NumE) extends StrE
  /** `elf.sections[<idx>].name` — resolved via the shstrtab. */
  final case class ElfSecNameE(idx: NumE) extends StrE
  /** `pe.resources[<idx>].type_string` / `.name_string` — the UTF-16
    * names of string-named resource levels.
    */
  final case class ResStrE(field: String, idx: NumE) extends StrE
  /** String module function: `pe.imphash()`, `magic.type()`,
    * `magic.mime_type()`; also the string FIELD `pe.dll_name`.
    */
  final case class ModStrFun(name: String) extends StrE
  /** Module function of one string argument returning 1/0 —
    * `pe.exports("name")` (case-INsensitive export-name membership,
    * matching libyara 4.x's ss_icompare walk over the export table).
    */
  final case class ModStrArgFun(name: String, arg: String) extends NumE
  /** `pe.imports("dll.dll"[, "Func"])` — the count of matching imports
    * (YARA 4.2 semantics, nonzero truthy): one arg counts every
    * function imported from the DLL, two args count the exact function.
    * Both DLL and function names compare case-insensitively (libyara
    * 4.x strcasecmp on each).
    */
  final case class ImportsFun(dll: String, func: Option[String])
    extends NumE
  /** `pe.version_info["CompanyName"]` — a StringFileInfo value from the
    * version resource; undefined (comparison false) when the payload is
    * not a PE or carries no such key.
    */
  final case class VerInfo(key: String) extends StrE
  /** `pe.rich_signature.version(build[, toolid])` /
    * `.toolid(toolid[, version])` — the summed entry count of matching
    * Rich-header entries (YARA 4.2 semantics: an int, nonzero = truthy);
    * undefined without a Rich header.
    */
  final case class RichFun(byVersion: Boolean, a: NumE,
      b: Option[NumE]) extends NumE
  /** `<strE> op "literal"` — YARA's string operators over module
    * strings: `== != contains icontains startswith istartswith
    * endswith iendswith`. An undefined left side (non-PE payload,
    * out-of-range section index) makes the comparison false.
    */
  final case class StrCmp(a: StrE, op: String, b: String) extends Cond
  final case class And(a: Cond, b: Cond) extends Cond
  final case class Or(a: Cond, b: Cond) extends Cond
  final case class Not(a: Cond) extends Cond

  /** Typed numeric value: YARA's int64/double tower. Mixed-type
    * arithmetic and comparisons promote to double; bitwise/shift/mod
    * on a float operand is undefined (libyara rejects it at compile —
    * here it propagates as undefined, keeping the uniform
    * undefined-comparisons-are-false contract).
    */
  private sealed trait NumV { def d: Double }
  private final case class IntV(v: Long) extends NumV {
    def d: Double = v.toDouble
  }
  private final case class FltV(v: Double) extends NumV { def d: Double = v }

  /** `for i in (lo..hi)` iteration clamp — YARA likewise bounds loop
    * iterations so a rule can't stall the scanner; payload offsets are
    * snap-length-bounded, so real rules sit far below this.
    */
  val MaxLoopIterations = 100000L

  private def cmp(op: String, a: Long, b: Long): Boolean = op match {
    case ">" => a > b
    case ">=" => a >= b
    case "<" => a < b
    case "<=" => a <= b
    case "==" => a == b
    case "!=" => a != b
    case other => throw new IllegalArgumentException(s"bad operator $other")
  }

  /** Float comparison — used whenever either side of a [[NumCmp]]
    * evaluates to [[FltV]] (YARA's promotion rule).
    */
  private def cmpD(op: String, a: Double, b: Double): Boolean = op match {
    case ">" => a > b
    case ">=" => a >= b
    case "<" => a < b
    case "<=" => a <= b
    case "==" => a == b
    case "!=" => a != b
    case other => throw new IllegalArgumentException(s"bad operator $other")
  }

  final case class Rule(name: String, tags: Seq[String],
      strings: Seq[(String, Matcher)], condition: Cond,
      priv: Boolean = false, glob: Boolean = false) {
    /** `env`: verdicts of rules defined earlier in the file, for
      * [[RuleRef]] conditions ([[scan]] threads it in order).
      */
    def matches(b: Array[Byte],
        env: Map[String, Boolean] = Map.empty): Boolean = {
      lazy val hit: Map[String, Boolean] =
        strings.map { case (id, m) => id -> m.matches(b) }.toMap
      // module headers parse at most once per payload, and only if a
      // pe./elf. field is actually referenced
      lazy val peInfo: Option[PeInfo] = parsePe(b)
      lazy val elfInfo: Option[ElfInfo] = parseElf(b)
      // magic's fallback path scans the whole payload (ASCII check), so
      // the (type, mime) pair is computed at most once per payload even
      // when a rule reads both functions or calls one in a loop body
      lazy val magicInfo: (String, String) = magicDescribe(b, peInfo, elfInfo)
      // memoized per payload: for-loop bodies read the same string's
      // matches once per iteration — never rescan
      val hitsCache = scala.collection.mutable.Map[String, IndexedSeq[(Int, Int)]]()
      def hitsOf(id: String): IndexedSeq[(Int, Int)] =
        hitsCache.getOrElseUpdate(id,
          strings.collectFirst { case (`id`, m) => m }
            .map(_.hits(b).toIndexedSeq).getOrElse(IndexedSeq.empty))
      def offsetsOf(id: String): Seq[Int] = hitsOf(id).map(_._1)
      def subset(prefix: Option[String], ids: Seq[String]) =
        if (ids.nonEmpty)
          strings.filter(s => ids.exists(sel =>
            if (sel.endsWith("*")) s._1.startsWith(sel.dropRight(1))
            else s._1 == sel))
        else prefix match {
          case None => strings
          case Some(p) => strings.filter(_._1.startsWith(p))
        }
      // `sBind` re-points the placeholder id "$" inside a ForOf body;
      // `iBind` is the 1-based occurrence ordinal inside a ForIndex body
      def eval(c: Cond, sBind: String = "$", iBind: Int = 0): Boolean = {
        def rid(id: String): String = if (id == "$") sBind else id
        // None = undefined (out-of-range ordinal/read/slice, div by
        // zero, float bit-op) — comparisons on it are false, like
        // YARA's undefined propagation
        def numV(e: NumE): Option[NumV] = e match {
          case NumLit(v) => Some(IntV(v))
          case NumFloat(v) => Some(FltV(v))
          case NumFilesize => Some(IntV(b.length.toLong))
          case NumCount(id) => Some(IntV(offsetsOf(rid(id)).length.toLong))
          case NumOffset(id, ord, len) =>
            hitsOf(rid(id)).lift(ord.getOrElse(iBind) - 1)
              .map(h => IntV((if (len) h._2 else h._1).toLong))
          case NumRead(w, be, signed, offE) =>
            num(offE).flatMap { off0 =>
              val nBytes = w / 8
              if (off0 < 0 || off0 + nBytes > b.length) None
              else {
                val off = off0.toInt
                var x = 0L
                var k = 0
                while (k < nBytes) {
                  val byte = b(off + k) & 0xffL
                  x |= (if (be) byte << (8 * (nBytes - 1 - k))
                        else byte << (8 * k))
                  k += 1
                }
                Some(IntV(if (signed) (x << (64 - w)) >> (64 - w) else x))
              }
            }
          case NumFun(name, args) => evalFun(name, args)
          case ModStrArgFun("pe.exports", arg) =>
            peInfo.map(p =>
              IntV(if (p.exports.exists(_.equalsIgnoreCase(arg))) 1L else 0L))
          case ImportsFun(dll, fn) =>
            peInfo.map { p =>
              val d = dll.toLowerCase(java.util.Locale.ROOT)
              IntV(p.imports.collect {
                case (name, funcs)
                    if name.toLowerCase(java.util.Locale.ROOT) == d =>
                  fn match {
                    case Some(f) => funcs.count(_.equalsIgnoreCase(f)).toLong
                    case None => funcs.size.toLong
                  }
              }.sum)
            }
          case RichFun(byVersion, aE, bE) =>
            // summed counts of matching entries (prodid, build, count)
            for {
              a <- num(aE)
              b2 <- bE match {
                case Some(e) => num(e).map(Some(_))
                case None => Some(None)
              }
              (_, _, _, ents) <- peInfo.flatMap(_.rich)
            } yield IntV(ents.collect {
              case (prodid, build, cnt)
                  if (if (byVersion) build == a else prodid == a) &&
                    b2.forall(x =>
                      if (byVersion) prodid == x else build == x) =>
                cnt
            }.sum)
          case ModStrArgFun(other, _) =>
            throw new IllegalArgumentException(
              s"unsupported module function $other")
          case NumLoopVar => Some(IntV(iBind.toLong))
          case SecField(f, idxE) =>
            for {
              i <- num(idxE)
              p <- peInfo
              s <- if (i >= 0 && i < p.sections.size)
                Some(p.sections(i.toInt)) else None
            } yield IntV(f match {
              case "virtual_address" => s.virtualAddress
              case "virtual_size" => s.virtualSize
              case "raw_data_offset" => s.rawDataOffset
              case "raw_data_size" => s.rawDataSize
              case _ => s.characteristics
            })
          case ElfSecField(f, idxE) =>
            for {
              i <- num(idxE)
              e <- elfInfo
              s <- if (i >= 0 && i < e.sections.size)
                Some(e.sections(i.toInt)) else None
            } yield IntV(f match {
              case "type" => s.stype
              case "flags" => s.flags
              case "address" => s.address
              case "offset" => s.offset
              case _ => s.size
            })
          case ElfSegField(f, idxE) =>
            for {
              i <- num(idxE)
              e <- elfInfo
              s <- if (i >= 0 && i < e.segments.size)
                Some(e.segments(i.toInt)) else None
            } yield IntV(f match {
              case "type" => s.ptype
              case "flags" => s.flags
              case "offset" => s.offset
              case "virtual_address" => s.vaddr
              case "file_size" => s.fileSize
              case _ => s.memSize
            })
          case ResField(f, idxE) =>
            for {
              i <- num(idxE)
              p <- peInfo
              r <- if (i >= 0 && i < p.resources.size)
                Some(p.resources(i.toInt)) else None
              v <- f match {
                case "type" => r.rtype
                case "id" => r.id
                case "language" => Some(r.language)
                case "offset" => Some(r.offset)
                case _ => Some(r.length)
              }
            } yield IntV(v)
          case ModField(f) => (f match {
            case "pe.is_pe" => peInfo.map(_ => 1L)
            case "pe.machine" => peInfo.map(_.machine)
            case "pe.number_of_sections" => peInfo.map(_.nSections)
            case "pe.timestamp" => peInfo.map(_.timestamp)
            case "pe.characteristics" => peInfo.map(_.characteristics)
            case "pe.subsystem" => peInfo.flatMap(_.subsystem)
            case "pe.entry_point" => peInfo.flatMap(_.entryOff)
            case "pe.image_base" => peInfo.flatMap(_.imageBase)
            case "pe.is_dll" =>
              peInfo.map(p => if ((p.characteristics & 0x2000L) != 0) 1L else 0L)
            case "pe.is_32bit" => peInfo.map(p => if (p.is32) 1L else 0L)
            case "pe.is_64bit" => peInfo.map(p => if (p.is64) 1L else 0L)
            case "pe.number_of_imports" => peInfo.map(_.imports.size.toLong)
            case "pe.number_of_imported_functions" =>
              peInfo.map(_.numberOfImportedFunctions)
            case "pe.number_of_exports" => peInfo.map(_.numberOfExports)
            case "pe.number_of_resources" =>
              peInfo.map(_.resources.size.toLong)
            // overlay: bytes past the last section's raw data — the
            // classic appended-payload hide. Both fields are undefined
            // unless the payload actually extends past the last section
            // (libyara's pe_parse_overlay guard: overlay-free PEs get
            // UNDEFINED, not offset=end/size=0, so `defined
            // pe.overlay.offset` distinguishes the two cases).
            case "pe.overlay.offset" => peInfo.flatMap(p =>
              if (p.sections.isEmpty) None
              else {
                val end = p.sections
                  .map(s => s.rawDataOffset + s.rawDataSize).max
                if (b.length > end) Some(end) else None
              })
            case "pe.overlay.size" => peInfo.flatMap(p =>
              if (p.sections.isEmpty) None
              else {
                val end = p.sections
                  .map(s => s.rawDataOffset + s.rawDataSize).max
                if (b.length > end) Some(b.length - end) else None
              })
            case "pe.rich_signature.offset" =>
              peInfo.flatMap(_.rich).map(_._1)
            case "pe.rich_signature.length" =>
              peInfo.flatMap(_.rich).map(_._2)
            case "pe.rich_signature.key" =>
              peInfo.flatMap(_.rich).map(_._3)
            case "elf.type" => elfInfo.map(_.etype)
            case "elf.machine" => elfInfo.map(_.machine)
            case "elf.entry_point" => elfInfo.flatMap(_.entry)
            case "elf.number_of_sections" => elfInfo.flatMap(_.nSections)
            case "elf.number_of_segments" => elfInfo.flatMap(_.nSegments)
            case other => throw new IllegalArgumentException(
              s"unsupported module field $other")
          }).map(IntV.apply)
          case NumUn("-", a) => numV(a).map {
            case IntV(v) => IntV(-v)
            case FltV(v) => FltV(-v)
          }
          case NumUn("~", a) => numV(a).collect { case IntV(v) => IntV(~v) }
          case NumUn(op, _) =>
            throw new IllegalArgumentException(s"bad unary operator $op")
          case NumBin(op, aE, bE) =>
            for {
              a <- numV(aE); c <- numV(bE)
              r <- (a, c) match {
                case (IntV(x), IntV(y)) => (op match {
                  case "+" => Some(x + y)
                  case "-" => Some(x - y)
                  case "*" => Some(x * y)
                  case "\\" => if (y == 0) None else Some(x / y)
                  case "%" => if (y == 0) None else Some(x % y)
                  case "&" => Some(x & y)
                  case "|" => Some(x | y)
                  case "^" => Some(x ^ y)
                  case "<<" =>
                    if (y < 0) None else if (y >= 64) Some(0L) else Some(x << y)
                  case ">>" =>
                    if (y < 0) None else if (y >= 64) Some(0L) else Some(x >> y)
                  case other =>
                    throw new IllegalArgumentException(s"bad operator $other")
                }).map(IntV.apply)
                case _ => op match { // promoted: double arithmetic only
                  case "+" => Some(FltV(a.d + c.d))
                  case "-" => Some(FltV(a.d - c.d))
                  case "*" => Some(FltV(a.d * c.d))
                  case "\\" => if (c.d == 0) None else Some(FltV(a.d / c.d))
                  case "%" | "&" | "|" | "^" | "<<" | ">>" => None
                  case other =>
                    throw new IllegalArgumentException(s"bad operator $other")
                }
              }
            } yield r
        }
        def num(e: NumE): Option[Long] = numV(e).collect { case IntV(v) => v }
        // (off, len) payload slice for math/hash module calls; an
        // out-of-range slice is undefined like the modules' own checks
        def sliceOf(offE: NumE, lenE: NumE): Option[(Int, Int)] = for {
          off <- num(offE)
          len <- num(lenE)
          if off >= 0 && len > 0 && off + len <= b.length
        } yield (off.toInt, len.toInt)
        def evalFun(name: String, args: Seq[NumE]): Option[NumV] =
          (name, args) match {
            case ("entropy", Seq(offE, lenE)) => sliceOf(offE, lenE).map {
              case (off, len) =>
                val freq = new Array[Long](256)
                var i = off
                while (i < off + len) { freq(b(i) & 0xff) += 1; i += 1 }
                var h = 0.0
                var k = 0
                while (k < 256) {
                  if (freq(k) > 0) {
                    val p = freq(k).toDouble / len
                    h -= p * (math.log(p) / math.log(2.0))
                  }
                  k += 1
                }
                FltV(h)
            }
            case ("mean", Seq(offE, lenE)) => sliceOf(offE, lenE).map {
              case (off, len) =>
                var s = 0L
                var i = off
                while (i < off + len) { s += (b(i) & 0xff); i += 1 }
                FltV(s.toDouble / len)
            }
            case ("deviation", Seq(offE, lenE, meanE)) =>
              for {
                (off, len) <- sliceOf(offE, lenE)
                m <- numV(meanE).map(_.d)
              } yield {
                var s = 0.0
                var i = off
                while (i < off + len) { s += math.abs((b(i) & 0xff) - m); i += 1 }
                FltV(s / len)
              }
            case ("abs", Seq(xE)) => numV(xE).map {
              case IntV(v) => IntV(math.abs(v))
              case FltV(v) => FltV(math.abs(v))
            }
            case ("min" | "max", Seq(xE, yE)) =>
              val lo = name == "min"
              for { x <- numV(xE); y <- numV(yE) } yield (x, y) match {
                case (IntV(a), IntV(c)) =>
                  IntV(if (lo) math.min(a, c) else math.max(a, c))
                case _ =>
                  FltV(if (lo) math.min(x.d, y.d) else math.max(x.d, y.d))
              }
            case _ => throw new IllegalArgumentException(
              s"unsupported math function $name/${args.length}")
          }
        // range bounds are expressions; an undefined bound = false
        def inRng(lo: NumE, hi: NumE)(f: (Long, Long) => Boolean): Boolean =
          (num(lo), num(hi)) match {
            case (Some(l), Some(h)) => f(l, h)
            case _ => false
          }
        c match {
          case Ref(id) => hit.getOrElse(rid(id), false)
          case InRange(id, lo, hi) => inRng(lo, hi) { (l, h) =>
            offsetsOf(rid(id)).exists(o => o >= l && o <= h)
          }
          case At(id, off) =>
            // guard the Int narrowing: a 64-bit offset (`$a at
            // 0x100000000`) can never match a bounded payload — in YARA
            // the comparison is simply false, never a wrapped offset
            num(off).exists(o => o >= 0 && o <= Int.MaxValue &&
              offsetsOf(rid(id)).contains(o.toInt))
          case NumCmp(aE, op, bE) =>
            (numV(aE), numV(bE)) match {
              case (Some(IntV(a)), Some(IntV(c))) => cmp(op, a, c)
              case (Some(a), Some(c)) => cmpD(op, a.d, c.d)
              case _ => false
            }
          case StrCmp(aE, op, lit) =>
            val sv: Option[String] = aE match {
              case SecNameE(idxE) =>
                for {
                  i <- num(idxE)
                  p <- peInfo
                  s <- if (i >= 0 && i < p.sections.size)
                    Some(p.sections(i.toInt)) else None
                } yield s.name
              case ModStrFun("pe.imphash") => peInfo.map(_.imphash)
              case ModStrFun("pe.dll_name") => peInfo.flatMap(_.dllName)
              case VerInfo(k) => peInfo.flatMap(_.versionInfo.get(k))
              case ElfSecNameE(idxE) =>
                for {
                  i <- num(idxE)
                  e <- elfInfo
                  s <- if (i >= 0 && i < e.sections.size)
                    Some(e.sections(i.toInt)) else None
                } yield s.name
              case ResStrE(f, idxE) =>
                for {
                  i <- num(idxE)
                  p <- peInfo
                  r <- if (i >= 0 && i < p.resources.size)
                    Some(p.resources(i.toInt)) else None
                  v <- if (f == "type_string") r.typeString
                       else r.nameString
                } yield v
              case ModStrFun("magic.type") => Some(magicInfo._1)
              case ModStrFun("magic.mime_type") => Some(magicInfo._2)
              case ModStrFun(other) => throw new IllegalArgumentException(
                s"unsupported string function $other")
            }
            sv.exists { s0 =>
              val fold = op.startsWith("i") && op != "!="
              def lc(x: String) = x.toLowerCase(java.util.Locale.ROOT)
              val (s, l) = if (fold) (lc(s0), lc(lit)) else (s0, lit)
              op match {
                case "==" => s == l
                case "!=" => s != l
                case "contains" | "icontains" => s.contains(l)
                case "startswith" | "istartswith" => s.startsWith(l)
                case "endswith" | "iendswith" => s.endsWith(l)
                case "matches" =>
                  // `lit` is the raw /re/[is] literal (validated at
                  // parse); unanchored search, like YARA's regex engine
                  compiledRe(lit).matcher(s).find()
                case other => throw new IllegalArgumentException(
                  s"bad string operator $other")
              }
            }
          case HashCmp(alg, offE, lenE, op, hex) =>
            sliceOf(offE, lenE).exists { case (off, len) =>
              val jdk = alg match {
                case "md5" => "MD5"
                case "sha1" => "SHA-1"
                case _ => "SHA-256"
              }
              val dig = java.security.MessageDigest.getInstance(jdk)
              dig.update(b, off, len)
              val got = dig.digest().map("%02x".format(_)).mkString
              if (op == "==") got == hex else got != hex
            }
          case MathInRange(xE, loE, hiE) =>
            (numV(xE), numV(loE), numV(hiE)) match {
              case (Some(x), Some(l), Some(h)) => x.d >= l.d && x.d <= h.d
              case _ => false
            }
          case CountInRange(id, op, nE, lo, hi) =>
            num(nE).exists(n => inRng(lo, hi) { (l, h) =>
              cmp(op, offsetsOf(rid(id)).count(o => o >= l && o <= h).toLong, n)
            })
          case RuleRef(r) => env.getOrElse(r,
            throw new IllegalArgumentException(
              s"condition references undefined rule $r"))
          case OfThem(n, p, ids, range, pct) =>
            val sel = subset(p, ids)
            def ok(id: String): Boolean = range match {
              case None => hit(id)
              case Some((lo, hi)) => inRng(lo, hi) { (l, h) =>
                offsetsOf(id).exists(o => o >= l && o <= h)
              }
            }
            // pct: matched/total ≥ n% — libyara's OP_OF_PERCENT compare
            if (pct) sel.nonEmpty &&
              sel.count(s => ok(s._1)) * 100L >= n.get.toLong * sel.size
            else n match {
              case None => sel.nonEmpty && sel.forall(s => ok(s._1))
              case Some(k) => sel.count(s => ok(s._1)) >= k
            }
          case ForIndex(n, loE, hiE, body) =>
            // lazy, capped iteration: a rule may write any literal
            // bounds (`for any i in (1..0x7fffffff)`), so the range is
            // never materialized and is clamped like YARA's own loop
            // iteration limit; `any`/`N` short-circuit at N hits, `all`
            // at the first miss
            (num(loE), num(hiE)) match {
              case (Some(lo0), Some(hi0)) =>
                // 0-based module iteration (`for any i in
                // (0..pe.number_of_sections - 1)`) is legal, so the
                // range is NOT clamped to 1 — a body reading a 1-based
                // string ordinal at i <= 0 is simply undefined → false,
                // the same verdict the old clamp produced by skipping
                val lo = math.max(Int.MinValue.toLong, lo0)
                val hi = math.min(math.min(Int.MaxValue.toLong, hi0),
                  lo + MaxLoopIterations - 1)
                def idxs = Iterator.iterate(lo)(_ + 1)
                  .takeWhile(_ <= hi).map(_.toInt)
                n match {
                  case None => lo <= hi &&
                    idxs.forall(i => eval(body, sBind, i))
                  case Some(k) =>
                    idxs.filter(i => eval(body, sBind, i)).take(k).size >= k
                }
              case _ => false
            }
          case OffIdxIn(id, lo, hi, len, ord) =>
            // @a[i] is 1-based; out-of-range ordinal = undefined = false
            hitsOf(rid(id)).lift(ord.getOrElse(iBind) - 1)
              .map(h => if (len) h._2 else h._1)
              .exists(v => inRng(lo, hi)((l, h) => v >= l && v <= h))
          case ForOf(n, p, ids, body, pct) =>
            val sel = subset(p, ids)
            if (pct) sel.nonEmpty &&
              sel.count(s => eval(body, s._1, iBind)) * 100L >=
              n.get.toLong * sel.size
            else n match {
              case None => sel.nonEmpty &&
                sel.forall(s => eval(body, s._1, iBind))
              case Some(k) => sel.count(s => eval(body, s._1, iBind)) >= k
            }
          case Defined(e) => numV(e).isDefined
          case And(x, y) => eval(x, sBind, iBind) && eval(y, sBind, iBind)
          case Or(x, y) => eval(x, sBind, iBind) || eval(y, sBind, iBind)
          case Not(x) => !eval(x, sBind, iBind)
        }
      }
      eval(condition)
    }
  }

  // ------------------------------------------------------------ parser
  /** Parse a rules file; unsupported constructs raise with the rule name. */
  def parse(source: String): Seq[Rule] = {
    // strip comments
    val src = source.replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)//.*$", "")
    val headRe =
      ("((?:(?:private|global)\\s+)*)rule\\s+(\\w+)" +
        "\\s*(?::\\s*([\\w \\t]+?))?\\s*\\{").r
    headRe.findAllMatchIn(src).map { m =>
      val mods = Option(m.group(1)).getOrElse("")
      val priv = mods.contains("private")
      val glob = mods.contains("global")
      val name = m.group(2)
      val tags = Option(m.group(3)).map(_.trim.split("\\s+").toSeq)
        .getOrElse(Nil).filter(_.nonEmpty)
      // walk to the matching close brace, skipping string/regex literals
      val start = m.end
      var i = start
      var depth = 1
      while (i < src.length && depth > 0) {
        src.charAt(i) match {
          case '"' | '/' =>
            val quote = src.charAt(i)
            i += 1
            while (i < src.length && src.charAt(i) != quote) {
              if (src.charAt(i) == '\\') i += 1
              i += 1
            }
          case '{' => depth += 1
          case '}' => depth -= 1
          case _ =>
        }
        i += 1
      }
      val body = src.substring(start, math.max(start, i - 1))
      def section(kw: String): Option[String] = {
        val i = body.indexOf(kw + ":")
        if (i < 0) None
        else {
          val after = body.substring(i + kw.length + 1)
          val ends = Seq("strings:", "condition:", "meta:")
            .filter(k => k != kw + ":")
            .map(after.indexOf).filter(_ >= 0)
          Some(if (ends.isEmpty) after else after.substring(0, ends.min))
        }
      }
      val strRe = ("\\$(\\w+)\\s*=\\s*(?:\"((?:[^\"\\\\]|\\\\.)*)\"" +
        "((?:[\\w \\t]|\\([^)]*\\))*)|\\{([^}]*)\\}" +
        "|/((?:[^/\\\\]|\\\\.)*)/([\\w \\t]*))").r
      val strings = section("strings").map { s =>
        strRe.findAllMatchIn(s).map { sm =>
          val id = sm.group(1)
          val matcher =
            if (sm.group(2) != null) {
              val mods = Option(sm.group(3)).getOrElse("")
              val text = unescape(sm.group(2))
              val nocase = mods.contains("nocase")
              val wide = mods.contains("wide")
              if (mods.contains("base64")) {
                // YARA: base64 is incompatible with nocase/xor/fullword
                if (nocase || mods.contains("xor") ||
                  mods.contains("fullword"))
                  throw new IllegalArgumentException(
                    s"rule $name: base64 cannot combine with nocase/xor/fullword")
                Base64Matcher(text, wide = mods.contains("base64wide"))
              } else if (mods.contains("xor")) {
                if (nocase) throw new IllegalArgumentException(
                  s"rule $name: xor cannot combine with nocase")
                // optional key range: xor(0x01) / xor(0x10-0x8f)
                val rangeRe = "xor\\s*\\(\\s*(0x[0-9a-fA-F]+|\\d+)" +
                  "(?:\\s*-\\s*(0x[0-9a-fA-F]+|\\d+))?\\s*\\)"
                val (lo, hi) = rangeRe.r.findFirstMatchIn(mods) match {
                  case Some(rm) =>
                    val a = numLit(rm.group(1)).toInt
                    val b = Option(rm.group(2)).map(numLit(_).toInt)
                      .getOrElse(a)
                    (a, b)
                  case None => (0, 255)
                }
                XorMatcher(text, lo, hi, wide = wide)
              } else TextMatcher(text,
                nocase = nocase,
                wide = wide,
                fullword = mods.contains("fullword"))
            } else if (sm.group(4) != null) {
              val body = sm.group(4).trim
              val tokRe =
                ("(\\?\\?|[0-9a-fA-F]{2}|[0-9a-fA-F]\\?|\\?[0-9a-fA-F]" +
                  "|\\[\\s*\\d+(?:\\s*-\\s*\\d+)?\\s*\\])").r
              val parsed = tokRe.findAllIn(body).map {
                case "??" => HexAny
                case t if t.startsWith("[") =>
                  val nums = "\\d+".r.findAllIn(t).map(_.toInt).toSeq
                  if (nums.length == 2) HexJump(nums(0), nums(1))
                  else HexJump(nums.head, nums.head)
                case t if t.charAt(0) == '?' => // ?A: high nibble masked
                  HexMasked(Integer.parseInt(t.substring(1), 16), 0x0f)
                case t if t.charAt(1) == '?' => // A?: low nibble masked
                  HexMasked(Integer.parseInt(t.substring(0, 1), 16) << 4, 0xf0)
                case h => HexByte(Integer.parseInt(h, 16))
              }.toArray[HexTok]
              val consumed = tokRe.findAllIn(body).mkString(" ")
                .replaceAll("\\s+", "")
              if (consumed != body.replaceAll("\\s+", ""))
                throw new IllegalArgumentException(
                  s"rule $name: unsupported hex tokens in '$body'")
              HexMatcher(parsed)
            } else {
              // regex word modifiers: nocase honored; wide/fullword on a
              // regex are loud failures, never a silently-ignored mod
              val rmods = Option(sm.group(6)).getOrElse("")
              if (rmods.contains("wide") || rmods.contains("fullword"))
                throw new IllegalArgumentException(
                  s"rule $name: wide/fullword on a regex string is unsupported")
              RegexMatcher(sm.group(5), nocase = rmods.contains("nocase"))
            }
          id -> (matcher: Matcher)
        }.toSeq
      }.getOrElse(Nil)
      val condStr = section("condition").map(_.trim).getOrElse("")
      Rule(name, tags, strings, parseCond(name, condStr), priv, glob)
    }.toSeq
  }

  /** Decimal or 0x-hex literal. */
  private def numLit(t: String): Long =
    try {
      if (t.startsWith("0x") || t.startsWith("0X"))
        java.lang.Long.parseLong(t.substring(2), 16)
      else t.toLong
    } catch {
      case _: NumberFormatException =>
        // uniform parse-failure contract (never NumberFormatException)
        throw new IllegalArgumentException(s"bad numeric literal '$t'")
    }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")
      .replace("\\n", "\n").replace("\\r", "\r").replace("\\t", "\t")

  /** `100`, `64KB`, `2MB` → bytes. */
  private def sizeLit(rule: String, t: String): Long = {
    val m = "(\\d+)(KB|MB|GB)?".r
    t match {
      case m(n, suf) =>
        n.toLong * (suf match {
          case "KB" => 1024L
          case "MB" => 1024L * 1024
          case "GB" => 1024L * 1024 * 1024
          case _ => 1L
        })
      case _ => throw new IllegalArgumentException(
        s"rule $rule: bad size literal '$t'")
    }
  }

  private val cmpOps = Set(">", ">=", "<", "<=", "==", "!=")
  /** math-module functions (name → arity) accepted by the parser;
    * anything else under `math.` (or any other module) fails the
    * uniform unsupported-construct contract.
    */
  private val mathArity = Map("entropy" -> 2, "mean" -> 2,
    "deviation" -> 3, "abs" -> 1, "min" -> 2, "max" -> 2)

  /** One section-table row (`pe.sections[i]` members). `name` is the
    * 8-byte short name cut at the first NUL, exactly what libyara's
    * pe module exposes.
    */
  private final case class PeSection(name: String, virtualAddress: Long,
      virtualSize: Long, rawDataOffset: Long, rawDataSize: Long,
      characteristics: Long)

  /** One resource-tree leaf (`pe.resources[i]` members): numeric
    * type/id are None when the level uses a string name (the
    * `type_string`/`name_string` alternative, like libyara).
    */
  private final case class PeResource(rtype: Option[Long],
      id: Option[Long], language: Long, offset: Long, length: Long,
      typeString: Option[String], nameString: Option[String])

  /** Header-level PE facts (public PE/COFF spec layout: MZ at 0,
    * `e_lfanew` at 0x3c, COFF header after the PE\0\0 signature,
    * optional-header magic 0x10b/0x20b). `entryOff` is the entry
    * point's FILE offset — the RVA mapped through the section table,
    * the same convention libyara's pe module reports. `imports` maps
    * each import-descriptor DLL to its imported function names in
    * table order (ordinal imports as `ordN`); `imphash` is the MD5
    * over the normalized list — the public pefile/Mandiant algorithm
    * libyara's `pe.imphash()` implements (lowercase, `.dll/.ocx/.sys`
    * extension stripped, `dll.func` comma-joined). Divergence, noted:
    * libyara additionally maps ws2_32/oleaut32 ORDINAL imports to
    * names through a baked-in table; here ordinals always hash as
    * `ordN`, so imphashes agree whenever imports are by name.
    */
  private final case class PeInfo(machine: Long, nSections: Long,
      timestamp: Long, characteristics: Long, subsystem: Option[Long],
      is32: Boolean, is64: Boolean, imageBase: Option[Long],
      entryOff: Option[Long],
      sections: IndexedSeq[PeSection] = IndexedSeq.empty,
      imports: IndexedSeq[(String, Seq[String])] = IndexedSeq.empty,
      exports: IndexedSeq[String] = IndexedSeq.empty,
      numberOfExports: Long = 0L,
      dllName: Option[String] = None,
      versionInfo: Map[String, String] = Map.empty,
      resources: IndexedSeq[PeResource] = IndexedSeq.empty,
      /** Rich header: (offset of the XORed DanS block, length up to but
        * not including the "Rich" marker and key — the YARA docs'
        * convention — XOR key, entries as (prodid, build, count)).
        */
      rich: Option[(Long, Long, Long,
        IndexedSeq[(Long, Long, Long)])] = None) {
    def numberOfImportedFunctions: Long = imports.map(_._2.size.toLong).sum
    lazy val imphash: String = {
      val parts = imports.flatMap { case (dll, funcs) =>
        val lib0 = dll.toLowerCase(java.util.Locale.ROOT)
        val lib = lib0.lastIndexOf('.') match {
          case k if k > 0 && Set("dll", "ocx", "sys")(lib0.substring(k + 1)) =>
            lib0.substring(0, k)
          case _ => lib0
        }
        funcs.map(f => s"$lib.${f.toLowerCase(java.util.Locale.ROOT)}")
      }
      val dig = java.security.MessageDigest.getInstance("MD5")
      dig.update(parts.mkString(",").getBytes(StandardCharsets.ISO_8859_1))
      dig.digest().map("%02x".format(_)).mkString
    }
  }

  private def parsePe(b: Array[Byte]): Option[PeInfo] = {
    def u16(i: Long): Option[Long] =
      if (i >= 0 && i + 2 <= b.length)
        Some((b(i.toInt) & 0xffL) | ((b(i.toInt + 1) & 0xffL) << 8))
      else None
    def u32(i: Long): Option[Long] =
      for { lo <- u16(i); hi <- u16(i + 2) } yield lo | (hi << 16)
    def u64(i: Long): Option[Long] =
      for { lo <- u32(i); hi <- u32(i + 4) } yield lo | (hi << 32)
    for {
      mz <- u16(0) if mz == 0x5a4dL
      peOff <- u32(0x3c)
      sig <- u32(peOff) if sig == 0x4550L
      machine <- u16(peOff + 4)
      nSec <- u16(peOff + 6)
      ts <- u32(peOff + 8)
      optSize <- u16(peOff + 20)
      chars <- u16(peOff + 22)
    } yield {
      val opt = peOff + 24
      val magic = u16(opt)
      val is32 = magic.contains(0x10bL)
      val is64 = magic.contains(0x20bL)
      val known = is32 || is64
      val secs = opt + optSize
      val sections: IndexedSeq[PeSection] =
        (0 until nSec.toInt).iterator.flatMap { k =>
          val s = secs + 40L * k
          for {
            vsize <- u32(s + 8); va <- u32(s + 12)
            raw <- u32(s + 16); ptr <- u32(s + 20)
            ch <- u32(s + 36)
          } yield {
            val name = new String(b, s.toInt, 8,
              StandardCharsets.ISO_8859_1).takeWhile(_ != '\u0000')
            PeSection(name, va, vsize, ptr, raw, ch)
          }
        }.toIndexedSeq
      // RVA → file offset via the section that contains it (simple
      // containment; libyara additionally rounds by SectionAlignment
      // for low RVAs)
      def rvaToOff(rva: Long): Option[Long] = sections.iterator
        .filter(s => rva >= s.virtualAddress && rva < s.virtualAddress +
          math.max(s.virtualSize, s.rawDataSize))
        .map(s => s.rawDataOffset + (rva - s.virtualAddress))
        .take(1).toSeq.headOption
      val entryOff =
        (if (known) u32(opt + 16) else None).flatMap(rvaToOff)
      // import table: DataDirectory[1] of the optional header
      // (PE32 base opt+96, PE32+ base opt+112); descriptors are
      // 20-byte rows terminated all-zero; per descriptor, the name RVA
      // at +12 and the (original-)first-thunk array of hint/name RVAs
      // or high-bit ordinals. Caps bound hostile headers.
      def asciiAt(off: Long, cap: Int = 256): Option[String] =
        if (off < 0 || off >= b.length) None
        else {
          var i = off.toInt
          val sb = new java.lang.StringBuilder
          while (i < b.length && b(i) != 0 && sb.length < cap) {
            sb.append((b(i) & 0xff).toChar); i += 1
          }
          if (sb.length == 0) None else Some(sb.toString)
        }
      val imports: IndexedSeq[(String, Seq[String])] = (for {
        impRva <- if (known)
          u32(if (is64) opt + 120 else opt + 104).filter(_ != 0L)
        else None
        impOff <- rvaToOff(impRva)
      } yield {
        val out = IndexedSeq.newBuilder[(String, Seq[String])]
        var d = 0
        var stop = false
        while (!stop && d < 1024) {
          val desc = impOff + 20L * d
          (u32(desc), u32(desc + 12), u32(desc + 16)) match {
            case (Some(oft), Some(nameRva), Some(ft))
                if nameRva != 0 || ft != 0 || oft != 0 =>
              val dll = nameRva match {
                case 0 => None
                case r => rvaToOff(r).flatMap(asciiAt(_))
              }
              val thunks = Seq(oft, ft).find(_ != 0).flatMap(rvaToOff)
              val funcs = thunks.map { t0 =>
                val w = if (is64) 8 else 4
                val fs = Seq.newBuilder[String]
                var k = 0
                var end = false
                while (!end && k < 16384) {
                  val v = if (is64) u64(t0 + w.toLong * k)
                          else u32(t0 + w.toLong * k)
                  v match {
                    case Some(0L) | None => end = true
                    case Some(x) if (is64 && x < 0) ||
                        (!is64 && (x & 0x80000000L) != 0) =>
                      fs += s"ord${x & 0xffffL}"
                    case Some(rva) =>
                      rvaToOff(rva).flatMap(o => asciiAt(o + 2))
                        .foreach(fs += _)
                  }
                  k += 1
                }
                fs.result()
              }.getOrElse(Nil)
              dll.foreach(n => out += ((n, funcs)))
              d += 1
            case _ => stop = true
          }
        }
        out.result()
      }).getOrElse(IndexedSeq.empty)
      // export table: DataDirectory[0] (PE32 base opt+96, PE32+
      // opt+112): image name RVA at +12, ordinal base +16, function
      // count +20, name count +24, name-pointer array RVA at +32
      val (expDll, expNames, nExp) = (for {
        expRva <- if (known)
          u32(if (is64) opt + 112 else opt + 96).filter(_ != 0L)
        else None
        expOff <- rvaToOff(expRva)
      } yield {
        val dll = u32(expOff + 12).filter(_ != 0L)
          .flatMap(rvaToOff).flatMap(asciiAt(_))
        val nFuncs = u32(expOff + 20).getOrElse(0L)
        val nNames = math.min(u32(expOff + 24).getOrElse(0L), 16384L).toInt
        val names = u32(expOff + 32).flatMap(rvaToOff).map { n0 =>
          (0 until nNames).flatMap(k =>
            u32(n0 + 4L * k).flatMap(rvaToOff).flatMap(asciiAt(_)))
        }.getOrElse(Seq.empty)
        (dll, names.toIndexedSeq, nFuncs)
      }).getOrElse((None, IndexedSeq.empty[String], 0L))
      // resource tree (DataDirectory[2]): three levels — type, id/name,
      // language — each a directory of 8-byte entries (entry count at
      // +12 named + +14 id; high bit of the second word = subdirectory;
      // offsets relative to the resource section start; a high-bit
      // FIRST word points at a counted UTF-16 name string). Leaves are
      // data entries (data RVA, size).
      val resources: IndexedSeq[PeResource] = (for {
        rsrcRva <- if (known)
          u32(if (is64) opt + 128 else opt + 112).filter(_ != 0L)
        else None
        rsrcOff <- rvaToOff(rsrcRva)
      } yield {
        def entries(dir: Long): Seq[(Long, Long)] =
          (for { nn <- u16(dir + 12); ni <- u16(dir + 14) } yield {
            val n = math.min(nn + ni, 256L).toInt
            (0 until n).flatMap { k =>
              for { id <- u32(dir + 16 + 8L * k)
                    off <- u32(dir + 20 + 8L * k) } yield (id, off)
            }
          }).getOrElse(Seq.empty)
        def strName(rel: Long): Option[String] = for {
          n0 <- u16(rsrcOff + rel)
          n = math.min(n0, 64L).toInt
          if rsrcOff + rel + 2 + 2L * n <= b.length
        } yield {
          val sb = new java.lang.StringBuilder
          var k = 0
          while (k < n) {
            val p = (rsrcOff + rel + 2 + 2L * k).toInt
            sb.append((((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8))).toChar)
            k += 1
          }
          sb.toString
        }
        def idOrName(raw: Long): (Option[Long], Option[String]) =
          if ((raw & 0x80000000L) != 0) (None, strName(raw & 0x7fffffffL))
          else (Some(raw), None)
        val out = IndexedSeq.newBuilder[PeResource]
        var total = 0
        for {
          (tid, tOff) <- entries(rsrcOff) if (tOff & 0x80000000L) != 0
          (nid, nOff) <- entries(rsrcOff + (tOff & 0x7fffffffL))
            if (nOff & 0x80000000L) != 0
          (lid, lOff) <- entries(rsrcOff + (nOff & 0x7fffffffL))
            if (lOff & 0x80000000L) == 0 && total < 4096
        } {
          for {
            dataRva <- u32(rsrcOff + lOff)
            size <- u32(rsrcOff + lOff + 4)
            dataOff <- rvaToOff(dataRva)
            if size > 0 && dataOff + size <= b.length
          } {
            val (t, ts) = idOrName(tid)
            val (i2, ns) = idOrName(nid)
            out += PeResource(t, i2, lid & 0x7fffffffL,
              dataOff, size, ts, ns)
            total += 1
          }
        }
        out.result()
      }).getOrElse(IndexedSeq.empty)
      // version resource: the first RT_VERSION (type 16) leaf →
      // VS_VERSIONINFO → StringFileInfo → StringTable → String entries
      // (per the public VERSIONINFO layout: wLength/wValueLength/wType
      // headers, UTF-16LE szKey, 4-byte alignment between members;
      // wValueLength of a text-typed String counts 16-bit words)
      val versionInfo: Map[String, String] = (for {
        r <- resources.find(_.rtype.contains(16L))
      } yield {
        val blob = (r.offset, math.min(r.length, 65536L))
        val (v0, vLen) = blob
        val end0 = v0 + vLen
        // VERSIONINFO members align on 32-bit boundaries relative to the
        // structure start; aligning ABSOLUTE file offsets is equivalent
        // because section raw pointers are FileAlignment(≥512)-aligned
        // and version data RVAs are 4-aligned, so v0 ≡ 0 (mod 4)
        def align4(p: Long): Long = (p + 3) & ~3L
        // UTF-16LE NUL-terminated string at p → (text, next offset)
        def wsz(p: Long, cap: Int = 128): Option[(String, Long)] = {
          val sb = new java.lang.StringBuilder
          var q = p
          while (q + 2 <= end0 && sb.length < cap) {
            val c = ((b(q.toInt) & 0xff) | ((b(q.toInt + 1) & 0xff) << 8))
            q += 2
            if (c == 0) return Some((sb.toString, q))
            sb.append(c.toChar)
          }
          None
        }
        // member header at p: (wLength, wValueLength, wType, szKey, after)
        def member(p: Long): Option[(Long, Long, Long, String, Long)] =
          for {
            wl <- u16(p) if wl >= 6 && p + wl <= end0
            wvl <- u16(p + 2)
            wt <- u16(p + 4)
            (key, after) <- wsz(p + 6)
          } yield (wl, wvl, wt, key, align4(after))
        val out = scala.collection.mutable.LinkedHashMap[String, String]()
        for {
          (rootLen, rootVl, _, rootKey, rootAfter) <- member(v0)
          if rootKey == "VS_VERSION_INFO"
        } {
          // skip the binary VS_FIXEDFILEINFO value (wValueLength bytes)
          var p = align4(rootAfter + rootVl)
          val rootEnd = v0 + rootLen
          while (p + 6 <= rootEnd && out.size < 64) {
            member(p) match {
              case Some((cl, _, _, cKey, cAfter)) if cl > 0 =>
                if (cKey == "StringFileInfo") {
                  var t = cAfter
                  val cEnd = p + cl
                  while (t + 6 <= cEnd && out.size < 64) {
                    member(t) match {
                      case Some((tl, _, _, _, tAfter)) if tl > 0 =>
                        var sp = tAfter
                        val tEnd = t + tl
                        while (sp + 6 <= tEnd && out.size < 64) {
                          member(sp) match {
                            case Some((sl, svl, st, sKey, sAfter))
                                if sl > 0 =>
                              if (st == 1L && svl > 0)
                                wsz(sAfter).foreach { case (v, _) =>
                                  out.getOrElseUpdate(sKey, v)
                                }
                              sp = align4(sp + sl)
                            case _ => sp = tEnd
                          }
                        }
                        t = align4(t + tl)
                      case _ => t = cEnd
                    }
                  }
                }
                p = align4(p + cl)
              case _ => p = rootEnd
            }
          }
        }
        out.toMap
      }).getOrElse(Map.empty)
      // Rich header (the undocumented-but-public MSVC metadata between
      // the DOS stub and the PE header): find the literal "Rich" + XOR
      // key, then decode backwards in 8-byte pairs to the "DanS" start;
      // entries are (compid = prodid<<16 | build, count), zero pairs
      // are the DanS padding
      val rich = {
        var found: Option[(Long, Long, Long,
          IndexedSeq[(Long, Long, Long)])] = None
        var r = 0x40L
        while (found.isEmpty && r + 8 <= peOff) {
          if (b(r.toInt) == 'R' && b(r.toInt + 1) == 'i' &&
            b(r.toInt + 2) == 'c' && b(r.toInt + 3) == 'h') {
            for (key <- u32(r + 4)) {
              val ents = List.newBuilder[(Long, Long, Long)]
              var p = r - 8
              var dans = -1L
              var steps = 0
              while (dans < 0 && p >= 0 && steps < 512) {
                u32(p) match {
                  case Some(v) if (v ^ key) == 0x536e6144L => dans = p
                  case Some(v) =>
                    val cnt = u32(p + 4).map(_ ^ key).getOrElse(0L)
                    val compid = v ^ key
                    if (compid != 0 || cnt != 0)
                      ents += ((compid >> 16, compid & 0xffffL, cnt))
                    p -= 8
                  case None => p = -1
                }
                steps += 1
              }
              if (dans >= 0)
                found = Some((dans, r - dans, key,
                  ents.result().reverse.toIndexedSeq))
            }
          }
          r += 4
        }
        found
      }
      PeInfo(machine, nSec, ts, chars,
        subsystem = if (known) u16(opt + 68) else None,
        is32 = is32, is64 = is64,
        imageBase =
          if (is64) u64(opt + 24) else if (is32) u32(opt + 28) else None,
        entryOff = entryOff,
        sections = sections, imports = imports,
        exports = expNames, numberOfExports = nExp, dllName = expDll,
        versionInfo = versionInfo, resources = resources, rich = rich)
    }
  }

  /** One ELF section-header row (`elf.sections[i]` members). */
  private final case class ElfSection(name: String, stype: Long,
      flags: Long, address: Long, offset: Long, size: Long)

  /** One ELF program-header row (`elf.segments[i]` members). */
  private final case class ElfSegment(ptype: Long, flags: Long,
      offset: Long, vaddr: Long, fileSize: Long, memSize: Long)

  /** Header-level ELF facts; `ei_data` (byte 5) picks the byte order,
    * `ei_class` (byte 4) the 32/64-bit field layout. The section table
    * resolves names through the `e_shstrndx` string-table section.
    */
  private final case class ElfInfo(etype: Long, machine: Long,
      entry: Option[Long], nSections: Option[Long],
      nSegments: Option[Long] = None,
      sections: IndexedSeq[ElfSection] = IndexedSeq.empty,
      segments: IndexedSeq[ElfSegment] = IndexedSeq.empty)

  private def parseElf(b: Array[Byte]): Option[ElfInfo] = {
    if (b.length < 52 || b(0) != 0x7f.toByte || b(1) != 'E' ||
      b(2) != 'L' || b(3) != 'F') None
    else {
      val is64 = b(4) == 2
      val be = b(5) == 2
      def u16(i: Long): Option[Long] =
        if (i >= 0 && i + 2 <= b.length) Some {
          val j = i.toInt
          if (be) ((b(j) & 0xffL) << 8) | (b(j + 1) & 0xffL)
          else (b(j) & 0xffL) | ((b(j + 1) & 0xffL) << 8)
        } else None
      def u32(i: Long): Option[Long] =
        for { a <- u16(i); c <- u16(i + 2) } yield
          if (be) (a << 16) | c else a | (c << 16)
      def u64(i: Long): Option[Long] =
        for { a <- u32(i); c <- u32(i + 4) } yield
          if (be) (a << 32) | c else a | (c << 32)
      def word(i: Long): Option[Long] = if (is64) u64(i) else u32(i)
      for { t <- u16(16); m <- u16(18) } yield {
        val shoff = word(if (is64) 40 else 32).getOrElse(0L)
        val shentsize = u16(if (is64) 58 else 46).getOrElse(0L)
        val shnum = u16(if (is64) 60 else 48)
        val shstrndx = u16(if (is64) 62 else 50).getOrElse(0L)
        val sections: IndexedSeq[ElfSection] =
          if (shoff <= 0 || shentsize < (if (is64) 64 else 40)) IndexedSeq.empty
          else {
            val n = math.min(shnum.getOrElse(0L), 4096L).toInt
            def hdr(k: Int): Long = shoff + shentsize * k
            // string table for names: section[e_shstrndx].sh_offset
            val strOff =
              if (shstrndx < n) word(hdr(shstrndx.toInt) + (if (is64) 24 else 16))
              else None
            def nameAt(rel: Long): String = strOff.flatMap { s0 =>
              val p = s0 + rel
              if (p < 0 || p >= b.length) None
              else {
                var q = p.toInt
                val sb = new java.lang.StringBuilder
                while (q < b.length && b(q) != 0 && sb.length < 64) {
                  sb.append((b(q) & 0xff).toChar); q += 1
                }
                Some(sb.toString)
              }
            }.getOrElse("")
            (0 until n).iterator.flatMap { k =>
              val h = hdr(k)
              for {
                nameRel <- u32(h)
                st <- u32(h + 4)
                fl <- word(h + 8)
                addr <- word(h + (if (is64) 16 else 12))
                off <- word(h + (if (is64) 24 else 16))
                sz <- word(h + (if (is64) 32 else 20))
              } yield ElfSection(nameAt(nameRel), st, fl, addr, off, sz)
            }.toIndexedSeq
          }
        // program headers: e_phoff/e_phentsize/e_phnum; 32-bit puts
        // p_flags AFTER the addresses, 64-bit right after p_type
        val phoff = word(if (is64) 32 else 28).getOrElse(0L)
        val phentsize = u16(if (is64) 54 else 42).getOrElse(0L)
        val phnum = u16(if (is64) 56 else 44)
        val segments: IndexedSeq[ElfSegment] =
          if (phoff <= 0 || phentsize < (if (is64) 56 else 32))
            IndexedSeq.empty
          else (0 until math.min(phnum.getOrElse(0L), 4096L).toInt)
            .iterator.flatMap { k =>
              val h = phoff + phentsize * k
              for {
                pt <- u32(h)
                fl <- u32(h + (if (is64) 4 else 24))
                off <- word(h + (if (is64) 8 else 4))
                va <- word(h + (if (is64) 16 else 8))
                fsz <- word(h + (if (is64) 32 else 16))
                msz <- word(h + (if (is64) 40 else 20))
              } yield ElfSegment(pt, fl, off, va, fsz, msz)
            }.toIndexedSeq
        ElfInfo(t, m,
          entry = if (is64) u64(24) else u32(24),
          nSections = shnum,
          nSegments = phnum,
          sections = sections, segments = segments)
      }
    }
  }

  /** `magic` module subset — `magic.type()` / `magic.mime_type()`
    * over a deterministic signature table (libyara delegates to
    * libmagic; this models libmagic's descriptions for the formats a
    * capture payload plausibly carries, and rules should match with
    * `contains`). Executable formats reuse the already-parsed PE/ELF
    * facts for the detail words (PE32+/DLL/console, ELF class/endian/
    * type/machine).
    */
  private def magicDescribe(b: Array[Byte], pe: Option[PeInfo],
      elf: Option[ElfInfo]): (String, String) = {
    def has(off: Int, sig: Int*): Boolean =
      off + sig.length <= b.length &&
        sig.indices.forall(i => (b(off + i) & 0xff) == sig(i))
    def ascii(off: Int, s: String): Boolean =
      has(off, s.map(_.toInt): _*)
    pe match {
      case Some(p) =>
        val cls = if (p.is64) "PE32+" else "PE32"
        val dll = if ((p.characteristics & 0x2000L) != 0) " (DLL)" else ""
        val sub = p.subsystem match {
          case Some(2L) => " (GUI)"
          case Some(3L) => " (console)"
          case Some(1L) => " (native)"
          case _ => ""
        }
        val mach = p.machine match {
          case 0x14cL => "Intel 80386"
          case 0x8664L => "x86-64"
          case 0x1c0L => "ARM"
          case 0xaa64L => "Aarch64"
          case m => f"unknown arch 0x$m%x"
        }
        return (s"$cls executable$dll$sub $mach, for MS Windows",
          "application/x-dosexec")
      case None if ascii(0, "MZ") =>
        return ("MS-DOS executable", "application/x-dosexec")
      case None =>
    }
    elf match {
      case Some(e) if b.length > 5 =>
        val cls = if (b(4) == 2) "64-bit" else "32-bit"
        val end = if (b(5) == 2) "MSB" else "LSB"
        val (kind, mime) = e.etype match {
          case 1L => ("relocatable", "application/x-object")
          case 2L => ("executable", "application/x-executable")
          case 3L => ("shared object", "application/x-sharedlib")
          case 4L => ("core file", "application/x-coredump")
          case _ => ("data", "application/octet-stream")
        }
        val mach = e.machine match {
          case 3L => "Intel 80386"
          case 40L => "ARM"
          case 62L => "x86-64"
          case 183L => "ARM aarch64"
          case m => s"unknown machine $m"
        }
        return (s"ELF $cls $end $kind, $mach", mime)
      case _ =>
    }
    if (has(0, 0x89, 'P', 'N', 'G')) ("PNG image data", "image/png")
    else if (has(0, 0xff, 0xd8, 0xff)) ("JPEG image data", "image/jpeg")
    else if (ascii(0, "GIF87a") || ascii(0, "GIF89a"))
      ("GIF image data", "image/gif")
    else if (ascii(0, "BM") && b.length > 14) ("PC bitmap", "image/bmp")
    else if (ascii(0, "%PDF-")) ("PDF document", "application/pdf")
    else if (has(0, 'P', 'K', 3, 4)) ("Zip archive data", "application/zip")
    else if (has(0, 0x1f, 0x8b)) ("gzip compressed data", "application/gzip")
    else if (ascii(0, "BZh"))
      ("bzip2 compressed data", "application/x-bzip2")
    else if (has(0, 0xfd, '7', 'z', 'X', 'Z', 0))
      ("XZ compressed data", "application/x-xz")
    else if (has(0, 0x28, 0xb5, 0x2f, 0xfd))
      ("Zstandard compressed data", "application/zstd")
    else if (ascii(0, "7z") && has(2, 0xbc, 0xaf, 0x27, 0x1c))
      ("7-zip archive data", "application/x-7z-compressed")
    else if (ascii(0, "Rar!")) ("RAR archive data", "application/x-rar")
    else if (ascii(257, "ustar")) ("POSIX tar archive", "application/x-tar")
    else if (ascii(0, "RIFF") && ascii(8, "WAVE"))
      ("RIFF (little-endian) data, WAVE audio", "audio/x-wav")
    else if (ascii(0, "OggS")) ("Ogg data", "audio/ogg")
    else if (has(0, 0xd4, 0xc3, 0xb2, 0xa1) ||
      has(0, 0xa1, 0xb2, 0xc3, 0xd4))
      ("tcpdump capture file", "application/vnd.tcpdump.pcap")
    else if (has(0, 0x0a, 0x0d, 0x0d, 0x0a))
      ("pcapng capture file", "application/x-pcapng")
    else if (b.nonEmpty && b.forall(c =>
      (c >= 0x20 && c < 0x7f) || c == '\n' || c == '\r' || c == '\t')) {
      if (ascii(0, "#!")) ("ASCII text executable", "text/plain")
      else ("ASCII text", "text/plain")
    } else ("data", "application/octet-stream")
  }

  /** Compile-once cache for `matches` regex literals (`/re/[is]`):
    * rules are broadcast and evaluated per payload, so the pattern must
    * not recompile per scan. Keyed by the raw literal token.
    */
  private val reCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.regex.Pattern]()
  private def compiledRe(lit: String): java.util.regex.Pattern =
    reCache.computeIfAbsent(lit, { l =>
      val end = l.lastIndexOf('/')
      val flags = l.substring(end + 1)
      var f = 0
      if (flags.contains('i')) f |= java.util.regex.Pattern.CASE_INSENSITIVE
      if (flags.contains('s')) f |= java.util.regex.Pattern.DOTALL
      java.util.regex.Pattern.compile(l.substring(1, end), f)
    })

  /** Module numeric constants usable anywhere a literal is. */
  private val modConsts = Map(
    "pe.MACHINE_I386" -> 0x14cL, "pe.MACHINE_AMD64" -> 0x8664L,
    "pe.MACHINE_ARM" -> 0x1c0L, "pe.MACHINE_ARM64" -> 0xaa64L,
    "pe.SUBSYSTEM_WINDOWS_GUI" -> 2L, "pe.SUBSYSTEM_WINDOWS_CUI" -> 3L,
    "elf.ET_REL" -> 1L, "elf.ET_EXEC" -> 2L, "elf.ET_DYN" -> 3L,
    "elf.EM_386" -> 3L, "elf.EM_ARM" -> 40L, "elf.EM_X86_64" -> 62L,
    "elf.EM_AARCH64" -> 183L)
  /** Module numeric header fields (undefined on a non-image payload). */
  private val modNumFields = Set("pe.is_pe", "pe.machine",
    "pe.number_of_sections", "pe.timestamp", "pe.characteristics",
    "pe.subsystem", "pe.entry_point", "pe.image_base",
    "pe.number_of_imports", "pe.number_of_imported_functions",
    "pe.number_of_exports", "pe.number_of_resources",
    "pe.overlay.offset", "pe.overlay.size",
    "pe.rich_signature.offset", "pe.rich_signature.length",
    "pe.rich_signature.key",
    "elf.type", "elf.machine", "elf.entry_point",
    "elf.number_of_sections", "elf.number_of_segments")
  /** `elf.sections[i].<member>` numeric members. */
  private val elfSecNumFields = Set("type", "flags", "address",
    "offset", "size")
  /** `elf.segments[i].<member>` numeric members. */
  private val elfSegNumFields = Set("type", "flags", "offset",
    "virtual_address", "file_size", "memory_size")
  /** `pe.resources[i].<member>` numeric / string members. */
  private val resNumFields = Set("type", "id", "language",
    "offset", "length")
  private val resStrFields = Set("type_string", "name_string")
  /** Rich-header count functions (`version`/`toolid`). */
  private val richFuns = Set("pe.rich_signature.version",
    "pe.rich_signature.toolid")
  /** `pe.sections[i].<member>` numeric members. */
  private val secNumFields = Set("virtual_address", "virtual_size",
    "raw_data_offset", "raw_data_size", "characteristics")
  /** String operators usable on module strings (i-prefix folds case);
    * `matches` takes a `/re/[is]` literal instead of a quoted string.
    */
  private val strOps = Set("==", "!=", "contains", "icontains",
    "startswith", "istartswith", "endswith", "iendswith", "matches")
  /** String module functions (called with parens, like YARA). */
  private val modStrFuns = Set("pe.imphash", "magic.type",
    "magic.mime_type")
  /** Module boolean functions — parse with optional `()`, yield 1/0. */
  private val modBoolFuns = Set("pe.is_dll", "pe.is_32bit", "pe.is_64bit")
  /** Binary numeric operator precedence (C-like, per the YARA spec);
    * higher binds tighter. Integer division is spelled `\`.
    */
  private val numPrec = Map(
    "|" -> 1, "^" -> 2, "&" -> 3, "<<" -> 4, ">>" -> 4,
    "+" -> 5, "-" -> 5, "*" -> 6, "\\" -> 6, "%" -> 6)

  /** Condition lexer: literals (decimal / 0x-hex / `64KB` sizes),
    * sigiled ids (`$a #a @a !a`, trailing `*` kept for prefix sets),
    * two-char operators before their one-char prefixes, punctuation.
    * Any unmatched character fails the uniform parse contract.
    */
  private def lexCond(rule: String, s: String): Seq[String] = {
    val p = java.util.regex.Pattern.compile(
      "0[xX][0-9A-Fa-f]+" +
        "|\\d+\\.\\d+" + // float literal — before int, after 0x-hex
        "|\\d+(?:KB|MB|GB)\\b" +
        "|\\d+" +
        "|\"(?:\\\\.|[^\"\\\\])*\"" + // string literal (hash compares)
        // regex literal (`matches /re/i`) — '/' appears in no other
        // condition token (integer division is spelled '\')
        "|/(?:\\\\.|[^/\\\\])+/[is]{0,2}" +
        "|\\.\\." +
        "|<<|>>|[<>=!]=" +
        // dotted tail admits module calls (math.entropy); `..` never
        // collides because an ident-internal dot is letter-followed
        "|[#@!$]?[A-Za-z_][A-Za-z0-9_]*(?:\\.[A-Za-z_][A-Za-z0-9_]*)*\\*?" +
        // leading-dot member selector after an index bracket
        // (`pe.sections[i].name`)
        "|\\.[A-Za-z_][A-Za-z0-9_]*" +
        "|[#@$!]" +
        "|[-+*\\\\%&|^~<>(),\\[\\]:]")
    val m = p.matcher(s)
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (Character.isWhitespace(s.charAt(i))) i += 1
      else {
        m.region(i, s.length)
        if (m.lookingAt()) { out += m.group(); i = m.end() }
        else throw new IllegalArgumentException(
          s"rule $rule: unsupported condition near '${s.charAt(i)}'")
      }
    }
    out.result()
  }

  private def parseCond(rule: String, s: String): Cond = {
    val toks = mutable.Queue(lexCond(rule, s): _*)
    def fail(what: String) = throw new IllegalArgumentException(
      s"rule $rule: unsupported condition near '$what'")
    // safe dequeue: a truncated condition fails the parse contract
    // (IllegalArgumentException), never NoSuchElementException
    def next(): String = if (toks.isEmpty) fail("<end>") else toks.dequeue()
    // the `for` loop variable in scope, for `@a[i]` validation
    var boundVar: Option[String] = None
    // the `for … in pe.sections` / `elf.sections` iterator variable in
    // scope (name, isPe): body tokens `<var>.<member>` resolve to
    // <module>.sections[<loop index>].<member>
    var boundSecVar: Option[(String, Boolean)] = None
    def secVarField(t: String): Option[String] =
      boundSecVar.collect {
        case (sv, _) if t.startsWith(sv + ".") && t.length > sv.length + 1 =>
          t.substring(sv.length + 1)
      }
    def secVarIsPe: Boolean = boundSecVar.exists(_._2)
    def expect(t: String): Unit = if (next() != t) fail(t)
    // `@a[k]`/`!a[k]` ordinal bracket: loop variable → None (bound at
    // eval), digit → constant; a missing bracket means ordinal 1
    // (YARA: bare `@a` ≡ `@a[1]`)
    def ordTail(): Option[Int] =
      if (!toks.headOption.contains("[")) Some(1)
      else {
        next()
        val idxTok = next()
        expect("]")
        if (boundVar.contains(idxTok)) None
        else if (idxTok.matches("\\d+")) Some(idxTok.toInt)
        else fail(idxTok)
      }
    // numeric primary: literal / size / filesize / #a / @a[k] / !a[k] /
    // uintN(expr) / intN(expr) / parenthesized expr / unary - ~
    def numPrimary(): NumE = next() match {
      case "(" =>
        val e = numExpr()
        expect(")")
        e
      case "-" => NumUn("-", numPrimary())
      case "~" => NumUn("~", numPrimary())
      case "filesize" => NumFilesize
      case t if t.matches("u?int(8|16|32)(be)?") =>
        val width = "\\d+".r.findFirstIn(t).get.toInt
        expect("(")
        val off = numExpr()
        expect(")")
        NumRead(width, t.endsWith("be"), signed = !t.startsWith("u"), off)
      case t if t.startsWith("#") && t.length > 1 => NumCount(t.drop(1))
      case "#" => NumCount("$")
      case "math.MEAN_BYTES" => NumFloat(127.5)
      case t if t.startsWith("math.") =>
        val fn = t.drop(5)
        val arity = mathArity.getOrElse(fn, fail(t))
        expect("(")
        val args = Seq.newBuilder[NumE]
        args += numExpr()
        while (toks.headOption.contains(",")) { next(); args += numExpr() }
        expect(")")
        val as = args.result()
        if (as.length != arity) fail(s"$t/${as.length}")
        NumFun(fn, as)
      case t if (t.startsWith("@") || t.startsWith("!")) && t != "!=" =>
        val isLen = t.startsWith("!")
        val id = if (t.length == 1) "$" else t.drop(1)
        NumOffset(id, ordTail(), isLen)
      case t if t.matches("\\d+(KB|MB|GB)") => NumLit(sizeLit(rule, t))
      case t if t.matches("\\d+\\.\\d+") => NumFloat(t.toDouble)
      case t if modConsts.contains(t) => NumLit(modConsts(t))
      case t if modNumFields.contains(t) => ModField(t)
      case t if modBoolFuns.contains(t) =>
        // YARA spells these as calls (`pe.is_dll()`); the parens are
        // optional here
        if (toks.headOption.contains("(")) { next(); expect(")") }
        ModField(t)
      case "pe.sections" =>
        val (fld, idx) = secMember()
        if (!secNumFields(fld)) fail("." + fld)
        SecField(fld, idx)
      case "elf.sections" =>
        val (fld, idx) = secMember()
        if (!elfSecNumFields(fld)) fail("." + fld)
        ElfSecField(fld, idx)
      case "elf.segments" =>
        val (fld, idx) = secMember()
        if (!elfSegNumFields(fld)) fail("." + fld)
        ElfSegField(fld, idx)
      case "pe.resources" =>
        val (fld, idx) = secMember()
        if (!resNumFields(fld)) fail("." + fld)
        ResField(fld, idx)
      case "pe.exports" =>
        // `pe.exports("name")` — 1/0 like libyara's numeric return
        expect("(")
        val lit = next()
        if (!(lit.length >= 2 && lit.startsWith("\""))) fail(lit)
        expect(")")
        ModStrArgFun("pe.exports", unescape(lit.drop(1).dropRight(1)))
      case t if richFuns(t) =>
        expect("(")
        val a = numExpr()
        val b2 = if (toks.headOption.contains(",")) {
          next(); Some(numExpr())
        } else None
        expect(")")
        RichFun(t.endsWith(".version"), a, b2)
      case "pe.imports" =>
        expect("(")
        def strLit(): String = {
          val lit = next()
          if (!(lit.length >= 2 && lit.startsWith("\""))) fail(lit)
          unescape(lit.drop(1).dropRight(1))
        }
        val dll = strLit()
        val fn = if (toks.headOption.contains(",")) {
          next(); Some(strLit())
        } else None
        expect(")")
        ImportsFun(dll, fn)
      case t if boundVar.contains(t) => NumLoopVar
      case t if secVarField(t).exists(f =>
          if (secVarIsPe) secNumFields(f) else elfSecNumFields(f)) =>
        if (secVarIsPe) SecField(secVarField(t).get, NumLoopVar)
        else ElfSecField(secVarField(t).get, NumLoopVar)
      case t => NumLit(numLit(t))
    }
    // `[ idxExpr ] .member` tail of a pe.sections reference
    def secMember(): (String, NumE) = {
      expect("[")
      val idx = numExpr()
      expect("]")
      val fld = next()
      if (!fld.startsWith(".") || fld.length < 2) fail(fld)
      (fld.drop(1), idx)
    }
    // precedence climbing over an already-parsed left operand
    def numExprCont(first: NumE, min: Int): NumE = {
      var left = first
      var go = true
      while (go) toks.headOption.flatMap(numPrec.get) match {
        case Some(pr) if pr >= min =>
          val op = next()
          left = NumBin(op, left, numExprCont(numPrimary(), pr + 1))
        case _ => go = false
      }
      left
    }
    def numExpr(min: Int = 1): NumE = numExprCont(numPrimary(), min)
    // `<numExpr> op <numExpr>` with the left side already parsed
    def numCmpTail(first: NumE): Cond = {
      val a = numExprCont(first, 1)
      val op = next()
      if (!cmpOps(op)) fail(op)
      NumCmp(a, op, numExpr())
    }
    // `<strE> op "literal"` / `<strE> matches /re/[is]` — module-string
    // comparison; the regex rides in `b` as its raw literal token
    def strCmpTail(a: StrE): Cond = {
      val op = next()
      if (!strOps(op)) fail(op)
      val lit = next()
      if (op == "matches") {
        if (!lit.startsWith("/")) fail(lit)
        try compiledRe(lit) catch {
          case _: java.util.regex.PatternSyntaxException => fail(lit)
        }
        StrCmp(a, op, lit)
      } else {
        if (!(lit.length >= 2 && lit.startsWith("\""))) fail(lit)
        StrCmp(a, op, unescape(lit.drop(1).dropRight(1)))
      }
    }
    def rangeTail(): (NumE, NumE) = {
      expect("(")
      val lo = numExpr()
      expect("..")
      val hi = numExpr()
      expect(")")
      (lo, hi)
    }
    // `of them` | `of ($prefix*)` | trailing `in (lo..hi)` (YARA 4.3);
    // `pct` marks n as a percentage of the set (YARA 4.2 `N% of`)
    def ofTail(n: Option[Int], pct: Boolean = false): Cond = {
      expect("of")
      val base = next() match {
        case "them" => OfThem(n, pct = pct)
        case "(" =>
          // `($a, $b, $p*)` — comma-separated ids, `*` = prefix match
          val ids = Seq.newBuilder[String]
          var done = false
          while (!done) {
            if (toks.isEmpty) fail(")")
            next() match {
              case ")" => done = true
              case "," => // separator — ids may also arrive pre-split
              case t =>
                val id = t.stripSuffix(",")
                if (!id.startsWith("$") || id.length < 2) fail(t)
                ids += id.drop(1)
            }
          }
          val set = ids.result()
          if (set.isEmpty) fail("()")
          // single star entry keeps the classic prefix form
          if (set.length == 1 && set.head.endsWith("*"))
            OfThem(n, Some(set.head.dropRight(1)), pct = pct)
          else OfThem(n, None, set, pct = pct)
        case other => fail(other)
      }
      if (toks.headOption.contains("in")) {
        next()
        base.copy(range = Some(rangeTail()))
      } else base
    }
    // `for any|all|none|N|N% (of <set> | i in (lo..hi)) : ( body )`
    def forTail(): Cond = {
      // `none` ≡ `not any` (matched-count == 0); `N%` carries pct
      var none = false
      var pct = false
      val n = next() match {
        case "any" => Some(1)
        case "all" => None
        case "none" => none = true; Some(1)
        case t if t.matches("\\d+") && toks.headOption.contains("%") =>
          next()
          pct = true
          if (t.toInt < 1 || t.toInt > 100) fail(t + "%")
          Some(t.toInt)
        case t if t.matches("\\d+") => Some(t.toInt)
        case other => fail(other)
      }
      def wrap(c: Cond): Cond = if (none) Not(c) else c
      toks.headOption match {
        case Some("of") =>
          val of = ofTail(n, pct) match {
            case o: OfThem =>
              if (o.range.isDefined) fail("in") // no range on for-of
              o
            case _ => fail("of")
          }
          expect(":"); expect("(")
          val body = or()
          expect(")")
          wrap(ForOf(n, of.prefix, of.ids, body, pct = pct))
        case Some(v) if v.matches("[A-Za-z_]\\w*") =>
          if (pct) fail("%") // N% quantifies string sets, not ranges
          next()
          expect("in")
          if (toks.headOption.exists(h =>
            h == "pe.sections" || h == "elf.sections")) {
            // `for any section in pe.sections : ( section.name … )` —
            // the iterator form public rulesets use; desugars to an
            // index loop over 0..number_of_sections-1 with the
            // variable's members reading <module>.sections[<loop index>]
            val isPe = next() == "pe.sections"
            expect(":"); expect("(")
            val savedS = boundSecVar
            boundSecVar = Some((v, isPe))
            val body = try or() finally boundSecVar = savedS
            expect(")")
            wrap(ForIndex(n, NumLit(0),
              NumBin("-", ModField(
                if (isPe) "pe.number_of_sections"
                else "elf.number_of_sections"), NumLit(1)),
              body))
          } else {
            val (lo, hi) = rangeTail()
            expect(":"); expect("(")
            val saved = boundVar
            boundVar = Some(v)
            val body = try or() finally boundVar = saved
            expect(")")
            wrap(ForIndex(n, lo, hi, body))
          }
        case other => fail(other.getOrElse("<end>"))
      }
    }
    def primary(): Cond = {
      if (toks.isEmpty) fail("<end>")
      next() match {
        case "(" =>
          val e = or()
          if (toks.isEmpty || next() != ")") fail(")")
          e
        case "not" => Not(primary())
        case "any" => ofTail(Some(1))
        case "all" => ofTail(None)
        case "none" => Not(ofTail(Some(1))) // none ≡ zero matched
        case "for" => forTail()
        case "defined" => Defined(numExpr())
        case "true" => NumCmp(NumLit(0), "==", NumLit(0))
        case "false" => NumCmp(NumLit(0), "!=", NumLit(0))
        // `N% of …` — two-token lookahead keeps `4 % 2 == 0` numeric
        case t if t.matches("\\d+") && toks.headOption.contains("%") &&
            toks.lift(1).contains("of") =>
          next()
          if (t.toInt < 1 || t.toInt > 100) fail(t + "%")
          ofTail(Some(t.toInt), pct = true)
        // `N of …` — but a digit may also open an arithmetic
        // comparison (`2 + 2 == 4`), so only the `of` lookahead takes
        // the string-set form
        case t if t.matches("\\d+") && toks.headOption.contains("of") =>
          ofTail(Some(t.toInt))
        case t if (t.startsWith("@") || t.startsWith("!")) && t != "!=" =>
          // `@a[i] in (lo..hi)` keeps its range leaf; any other
          // continuation is a general numeric comparison
          val isLen = t.startsWith("!")
          val id = if (t.length == 1) "$" else t.drop(1)
          val ord = ordTail()
          if (toks.headOption.contains("in")) {
            next()
            val (lo, hi) = rangeTail()
            OffIdxIn(id, lo, hi, isLen, ord)
          } else numCmpTail(NumOffset(id, ord, isLen))
        case t if t.startsWith("#") =>
          // `#` bare = the for-of placeholder's count
          val id = if (t == "#") "$" else t.drop(1)
          if (toks.headOption.contains("in")) {
            // `#a in (lo..hi) op n` — occurrences within the range
            next()
            val (lo, hi) = rangeTail()
            val op = next()
            if (!cmpOps(op)) fail(op)
            CountInRange(id, op, numExpr(), lo, hi)
          } else numCmpTail(NumCount(id))
        case t if t.startsWith("$") =>
          // `$` bare = the for-of placeholder string
          val id = if (t == "$") "$" else t.drop(1)
          toks.headOption match {
            case Some("in") =>
              next()
              val (lo, hi) = rangeTail()
              InRange(id, lo, hi)
            case Some("at") =>
              next()
              At(id, numExpr())
            case _ => Ref(id)
          }
        case "math.in_range" =>
          expect("(")
          val x = numExpr()
          expect(",")
          val lo = numExpr()
          expect(",")
          val hi = numExpr()
          expect(")")
          MathInRange(x, lo, hi)
        case t if t.matches("hash\\.(md5|sha1|sha256)") =>
          expect("(")
          val off = numExpr()
          expect(",")
          val len = numExpr()
          expect(")")
          val op = next()
          if (op != "==" && op != "!=") fail(op)
          val lit = next()
          if (!(lit.length >= 2 && lit.startsWith("\""))) fail(lit)
          HashCmp(t.drop(5), off, len, op,
            unescape(lit.drop(1).dropRight(1))
              .toLowerCase(java.util.Locale.ROOT))
        case "pe.sections" =>
          // `.name` opens a string comparison; numeric members open a
          // general numeric comparison
          val (fld, idx) = secMember()
          fld match {
            case "name" => strCmpTail(SecNameE(idx))
            case f if secNumFields(f) => numCmpTail(SecField(f, idx))
            case other => fail("." + other)
          }
        case t if secVarField(t).isDefined =>
          // section-iterator variable member (`section.name`, bound by
          // `for … in pe.sections` / `elf.sections`)
          secVarField(t).get match {
            case "name" =>
              strCmpTail(if (secVarIsPe) SecNameE(NumLoopVar)
                else ElfSecNameE(NumLoopVar))
            case f if secVarIsPe && secNumFields(f) =>
              numCmpTail(SecField(f, NumLoopVar))
            case f if !secVarIsPe && elfSecNumFields(f) =>
              numCmpTail(ElfSecField(f, NumLoopVar))
            case other => fail("." + other)
          }
        case "elf.sections" =>
          val (fld, idx) = secMember()
          fld match {
            case "name" => strCmpTail(ElfSecNameE(idx))
            case f if elfSecNumFields(f) => numCmpTail(ElfSecField(f, idx))
            case other => fail("." + other)
          }
        case "elf.segments" =>
          val (fld, idx) = secMember()
          if (!elfSegNumFields(fld)) fail("." + fld)
          numCmpTail(ElfSegField(fld, idx))
        case "pe.resources" =>
          val (fld, idx) = secMember()
          fld match {
            case f if resStrFields(f) => strCmpTail(ResStrE(f, idx))
            case f if resNumFields(f) => numCmpTail(ResField(f, idx))
            case other => fail("." + other)
          }
        case t @ ("pe.exports" | "pe.imports" |
            "pe.rich_signature.version" | "pe.rich_signature.toolid") =>
          // truth test or numeric comparison, like the bool functions
          toks.prepend(t)
          val left = numPrimary()
          if (toks.headOption.exists(h => cmpOps(h) || numPrec.contains(h)))
            numCmpTail(left)
          else NumCmp(left, "!=", NumLit(0))
        case "pe.dll_name" =>
          // export-directory image name — a string FIELD (no parens)
          strCmpTail(ModStrFun("pe.dll_name"))
        case "pe.version_info" =>
          // `pe.version_info["CompanyName"] <op> …`
          expect("[")
          val k = next()
          if (!(k.length >= 2 && k.startsWith("\""))) fail(k)
          expect("]")
          strCmpTail(VerInfo(unescape(k.drop(1).dropRight(1))))
        case t if modStrFuns.contains(t) =>
          // `pe.imphash()` / `magic.type()` / `magic.mime_type()` —
          // YARA spells these as calls
          expect("("); expect(")")
          strCmpTail(ModStrFun(t))
        case t if modConsts.contains(t) || modNumFields.contains(t) ||
            modBoolFuns.contains(t) =>
          // `pe.is_dll()` / bare `pe.is_pe` as a truth test, or a
          // module field opening a numeric comparison
          toks.prepend(t)
          val left = numPrimary()
          if (toks.headOption.exists(h => cmpOps(h) || numPrec.contains(h)))
            numCmpTail(left)
          else NumCmp(left, "!=", NumLit(0))
        case t if t == "filesize" || t == "-" || t == "~" ||
            t.matches("u?int(8|16|32)(be)?") || t.matches("0[xX].*") ||
            t.matches("\\d.*") || t.startsWith("math.") =>
          // numeric-expression comparison: re-queue the token and parse
          // `<numExpr> op <numExpr>`
          toks.prepend(t)
          numCmpTail(numPrimary())
        // bare identifier = reference to an earlier rule's verdict
        case t if t.matches("[A-Za-z_]\\w*") => RuleRef(t)
        case other => fail(other)
      }
    }
    def and(): Cond = {
      var e = primary()
      while (toks.headOption.contains("and")) { next(); e = And(e, primary()) }
      e
    }
    def or(): Cond = {
      var e = and()
      while (toks.headOption.contains("or")) { next(); e = Or(e, and()) }
      e
    }
    val e = or()
    if (toks.nonEmpty) fail(toks.head)
    e
  }

  // ------------------------------------------------------------- scan
  /** Tags for one payload: `yara:<name>` plus the rule's own tags, each
    * `yara:`-prefixed (capture/yara.c:149-156 tag shape). Rules evaluate
    * in file order so later rules may reference earlier verdicts;
    * `private` rules contribute no tags, and a failing `global` rule
    * suppresses every match (YARA semantics).
    */
  def scan(rules: Seq[Rule], data: Array[Byte]): Seq[String] = {
    var env = Map.empty[String, Boolean]
    val verdicts = rules.map { r =>
      val m = r.matches(data, env)
      env += (r.name -> m)
      (r, m)
    }
    if (verdicts.exists { case (r, m) => r.glob && !m }) Nil
    else verdicts.collect { case (r, true) if !r.priv => r }
      .flatMap(r => (r.name +: r.tags).map("yara:" + _)).distinct
  }

  /** Session form: scan both directions' reassembled streams. */
  def tags(rules: Seq[Rule], src: Array[Byte], dst: Array[Byte]): Seq[String] =
    (scan(rules, src) ++ scan(rules, dst)).distinct.sorted
}
