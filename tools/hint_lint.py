#!/usr/bin/env python3
"""Static broadcast-hint classifier (round 13; hardened round 14).

The measured ScaleAudit broadcast sweep only flags build sides past a
100k-row floor, so a forced `broadcast()` on a TPC-H dim-grained frame
(supplier = 1k rows at sf0.1) sails through while still pinning an
arbitrarily large build side at the 100 TB target — exactly how the 8
round-12 hints (q309, q317, q442-q446) escaped. This lint closes that
loophole STATICALLY: every `broadcast(...)` call site in main source must
be provably bounded by construction, bucketed as one of

  ONE_ROW_AGG    global .agg(...) / .groupBy().agg(...) -> exactly 1 row
  LIMIT_K        .limit(k) / top-k anchor -> at most k rows
  FIXED_CATALOG  nation (25) / region (5) / literal range / Seq(...).toDF
  GROUPED_KEY    rollup grouped by (or distinct over) ONLY bounded-arity
                 key columns from the documented allowlist below
  LITERAL_KEY    equality / small-range / isin literal filter on a unique
                 key column -> bounded by the literal set
  PRODUCT        join/union chain where the head AND every joined frame
                 are each provably bounded (|A.join(B)| <= |A| x |B|)
  SQRT_BOUNDED   `// bcast-sqrt: <reason>` — a frame that GROWS with the
                 corpus but sub-linearly (the Ann.sqrtCentroids quantizer
                 contract); the reason must state the sqrt bound and why
                 it is acceptable at the 100 TB target
  ANNOTATED      `// bcast-ok: <reason>` bound to the call or the
                 definition — the reason must state WHY the frame cannot
                 grow with the corpus (fixed k, cap-gated, quantile cuts,
                 API contract)
  EXEMPT         `// lint-exempt: <reason>` — a DELIBERATELY unbounded
                 site (ScaleAudit's planted selftest probes, which must
                 stay flaggable at runtime); reported in the census with
                 its reason. SCOPED: the marker only works under
                 graft/tools/ (and the selftest fixtures) — anywhere
                 else it is itself a lint failure
  OTHER          unclassified -> LINT FAILURE

Soundness rules used when resolving (round-14 hardening, ADVICE r13):
  - bounding keywords (.limit / .agg / grouped heads) only certify at
    paren DEPTH 0 of the argument chain — a .limit(5) inside a joined
    subexpression (`big.join(small.limit(5))`) no longer certifies;
  - chains containing depth-0 join/crossJoin/union classify only when
    (a) a bounding op follows the LAST grow at depth 0, or (b) the head
    segment AND every joined frame are each provably bounded (PRODUCT);
  - catalog/literal text patterns certify only join-free texts (a
    `"nation"` literal inside `lineitem.join(nation...)` must not);
  - the LAST grouped head governs GROUPED_KEY (an early bounded groupBy
    followed by a corpus-keyed one no longer certifies);
  - annotations BIND to their site: trailing on the broadcast line, or
    anywhere in the CONTIGUOUS comment-only block directly above it — a
    code line breaks adjacency, and comment lines cannot host other
    sites, so one comment can no longer certify an adjacent site;
  - comment text is never a site: `//`, `/* ... */` and scaladoc
    comments are blanked before the site scans (string literals are
    kept whole, so a `/*` inside one opens no comment);
  - identifier args resolve through `val` chains (depth 4) in-file;
  - local `def` helper calls resolve to the def body (depth 1);
  - row-count-non-increasing tails (.select/.filter/.where/.as/.alias/
    .withColumn/.withColumnRenamed/.drop/.cache/.persistTracked) are
    stripped before classifying the head — they can only shrink a frame,
    so the head's bound transfers.

The measured sweep (tools/ScaleAudit) keeps its runtime growth flags;
this pass catches dim-class hints below its row floor. Allowlist arity
arguments are documented in PLANS.md §Round 13.

Usage:
  python3 tools/hint_lint.py [--json out.json] [--md out.md]
  python3 tools/hint_lint.py --selftest      # planted-defect fixtures
Exit 0 iff OTHER is empty (or, under --selftest, iff every fixture
expectation — including the planted OTHERs — matches).
"""
import json
import os
import re
import sys

SRC = os.path.join(os.path.dirname(__file__), "..", "src", "main", "scala")
FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

ANNOT = re.compile(r"bcast-ok:\s*(.+?)(?:\*/)?\s*$")
SQRT_ANNOT = re.compile(r"bcast-sqrt:\s*(.+?)(?:\*/)?\s*$")
# deliberate-defect exemption (round 14): ScaleAudit's planted selftest
# probes are REQUIRED to be unbounded — they exist so the runtime audit
# can be watched to fail. The marker buckets them EXEMPT (visible in the
# census with the stated reason) instead of OTHER; it must never be used
# to wave through real code, which is why the bucket is reported, not
# silently dropped.
EXEMPT_ANNOT = re.compile(r"lint-exempt:\s*(.+?)(?:\*/)?\s*$")

# File-wide parameter certification: `// bcast-ok-param: <ident> — <reason>`
# anywhere in a file certifies every broadcast whose argument HEAD is that
# identifier (typically a function parameter the in-file resolver cannot
# see a definition for, e.g. a query-batch or fixed-k codebook param whose
# bound is an API contract documented at the declaration).
# `bcast-sqrt-param:` is the sub-linear variant (SQRT_BOUNDED).
PARAM_ANNOT = re.compile(r"bcast-ok-param:\s*([A-Za-z_][\w]*)\s*[—-]\s*(.+?)(?:\*/)?\s*$")
SQRT_PARAM_ANNOT = re.compile(r"bcast-sqrt-param:\s*([A-Za-z_][\w]*)\s*[—-]\s*(.+?)(?:\*/)?\s*$")

# Bounded-arity key columns: grouping or distinct over ONLY these yields a
# frame whose row count is fixed by an enum / catalog / fixed config, not
# by corpus size. Arity arguments per entry live in PLANS.md §Round 13.
BOUNDED_KEYS = {
    "event_type",   # events enum (6 values, schema-fixed)
    "source",       # ingestion-source catalog (config-sized)
    "label",        # classifier/cluster label set (fixed k by construction)
    "lang",         # language-id codes (fixed model inventory)
    "model",        # embedding-model catalog (config-sized)
    "fold",         # cross-validation folds (fixed small k)
    "bucket",       # fixed histogram/LSH band arity by construction
    "band",         # LSH bands (fixed)
    "tier",         # compression/quality tiers (fixed)
    "bin",          # fixed-width histogram bins over bounded ranges
    "arm",          # ablation arms (fixed lattice)
    "rule",         # curation rule inventory (code-sized)
    "ch",           # channel index (fixed small range)
    "pos",          # subvector position (fixed PQ m)
    "r_name", "n_name",  # region/nation names (5 / 25)
    "o_orderpriority",   # orders priority enum (5 values, schema-fixed)
    "qb",           # quality bucket (fixed bucketing arity)
    "hb",           # hash bucket (fixed modulus)
    "fid",          # feature id (fixed feature inventory)
}

# Row-count-non-increasing dataframe methods: stripping them off the tail
# of an expression preserves any upper bound proved for the head.
NONGROW = (
    "select", "filter", "where", "as", "alias", "withColumn",
    "withColumnRenamed", "drop", "dropDuplicates", "distinct", "cache",
    "persist", "persistTracked", "hint", "toDF", "na", "fill", "cast",
    "orderBy", "sort", "limit", "agg", "groupBy", "rollup", "cube",
    "except", "exceptAll", "intersect", "intersectAll", "sample",
)

# Row-count-GROWING dataframe methods at depth 0 of an argument chain:
# a bounding keyword BEFORE one of these does not bound the result, and
# a bounding keyword INSIDE one's argument never did.
GROW = ("join", "crossJoin", "union", "unionAll", "unionByName")

# Unique-key columns of the testdata tables: an equality / small-range /
# isin literal filter on one of these bounds the frame by the literal,
# independent of corpus size (the id is unique per row).
UNIQUE_KEYS = (
    "vec_id", "doc_id", "query_id", "o_orderkey", "l_orderkey",
    "c_custkey", "s_suppkey", "p_partkey", "event_id", "id",
)
LITERAL_KEY = re.compile(
    r'col\("(?:' + "|".join(UNIQUE_KEYS) + r')"\)\s*'
    r"(?:===\s*(?:lit\()?\d+|<=?\s*(?:lit\()?\d{1,5}\b|\.isin\()"
)


def scala_files(root):
    for dirpath, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(dirpath, n)


def strip_comments(line):
    i = line.find("//")
    return line if i < 0 else line[:i]


CHAR_LIT = re.compile(r"'(?:\\.|[^\\'])'")
_CODE_MEMO = {}


def code_only(lines):
    """Each line with its comments blanked: `//` line comments and
    `/* ... */` block and scaladoc comments (nested, as Scala nests them,
    and across lines). String and char literals are copied whole, so a
    `/*` or `//` inside one (a glob path, a URL) opens no comment. The
    site scans read these lines, so comment text naming `broadcast(x)`
    or `.crossJoin(x)` is never a site. Memoized per file (the lines
    list's identity)."""
    hit = _CODE_MEMO.get(id(lines))
    if hit and hit[0] is lines:
        return hit[1]
    out = []
    depth = 0        # block-comment nesting
    triple = False   # inside a triple-quoted literal
    for line in lines:
        buf = []
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
                continue
            if triple:
                j = line.find('"""', i)
                end = n if j < 0 else j + 3
                buf.append(line[i:end])
                triple, i = j < 0, end
                continue
            if line.startswith('"""', i):
                buf.append('"""')
                triple, i = True, i + 3
            elif line[i] == '"':
                j = i + 1
                while j < n and line[j] != '"':
                    j += 2 if line[j] == "\\" else 1
                buf.append(line[i:j + 1])
                i = j + 1
            elif CHAR_LIT.match(line, i):
                m = CHAR_LIT.match(line, i)
                buf.append(m.group(0))
                i = m.end()
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            else:
                buf.append(line[i])
                i += 1
        out.append("".join(buf))
    _CODE_MEMO[id(lines)] = (lines, out)
    return out


def balanced_arg(text, start):
    depth = 0
    in_str = False
    for i in range(start, len(text)):
        c = text[i]
        if c == '"' and (i == 0 or text[i - 1] != "\\"):
            in_str = not in_str
        if in_str:
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return text[start + 1 : i]
    return text[start + 1 :]


CALL_HEAD = re.compile(r"\.([A-Za-z_][\w]*)\s*\(")


def depth0_calls(text):
    """Method calls `.name(` sitting at paren depth 0 of `text`, in
    order: [(name, dot_pos, arg_text)]. String-literal content is
    skipped so parens/dots inside literals don't skew the depth."""
    out = []
    depth = 0
    in_str = False
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if c == '"' and (i == 0 or text[i - 1] != "\\"):
            in_str = not in_str
            i += 1
            continue
        if in_str:
            i += 1
            continue
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "." and depth == 0:
            m = CALL_HEAD.match(text, i)
            if m:
                astart = m.end() - 1
                out.append((m.group(1), i, balanced_arg(text, astart)))
        i += 1
    return out


def first_toplevel_arg(argtext):
    """The first top-level comma-separated element of a call's argument
    text (a join's frame argument, before the condition)."""
    depth = 0
    in_str = False
    for i, c in enumerate(argtext):
        if c == '"' and (i == 0 or argtext[i - 1] != "\\"):
            in_str = not in_str
        if in_str:
            continue
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            return argtext[:i]
    return argtext


def statement_rhs(lines, i):
    """Expression text of the statement starting at lines[i] (a val/def
    line): keep appending lines while parens are unbalanced or the next
    line continues the expression (starts with '.' or an operator)."""
    buf = strip_comments(lines[i])
    k = i + 1
    while k < len(lines):
        nxt = strip_comments(lines[k])
        unbal = buf.count("(") > buf.count(")") or buf.count("{") > buf.count("}")
        dangling = re.search(r"(=|=>|\+|-|\*|/|&&|\|\||,|\()\s*$", buf)
        cont = re.match(r"\s*([.+\-*/]|\|\||&&|===|:|yield\b)", nxt)
        if not unbal and not cont and not dangling:
            break
        buf += "\n" + nxt
        k += 1
    return buf


def bound_annotation(lines, idx):
    """The annotation certifying the site on 0-based line `idx`, or
    (None, None). BINDING (ADVICE r13, docstring corrected r15 to match
    the implementation): trailing on the site line, or anywhere in the
    CONTIGUOUS comment-only block directly above it (arbitrarily tall —
    a code line breaks adjacency), provided the comment line is not
    itself an earlier site's line (its annotation belongs to that site).
    Returns (kind, reason) with kind in {ok, sqrt, exempt}."""
    def ann_of(line):
        sm = SQRT_ANNOT.search(line)
        if sm:
            return "sqrt", sm.group(1).strip()
        em = EXEMPT_ANNOT.search(line)
        if em:
            return "exempt", em.group(1).strip()
        am = ANNOT.search(line)
        if am:
            return "ok", am.group(1).strip()
        return None, None

    kind, reason = ann_of(lines[idx])
    if kind:
        return kind, reason
    # walk up the CONTIGUOUS comment block directly above the site — a
    # code line breaks adjacency (the comment would describe that line,
    # not us; comment-only lines cannot themselves be sites, so no other
    # site can sit between the marker and this one). The block may be
    # arbitrarily tall: the binding guarantee is adjacency, not distance.
    j = idx - 1
    code = code_only(lines)
    while j >= 0 and not code[j].strip() and lines[j].strip():
        kind, reason = ann_of(lines[j])
        if kind:
            return kind, reason
        j -= 1
    return None, None


def find_sites(path, lines):
    codes = code_only(lines)
    for idx, code in enumerate(codes):
        if re.search(r"^\s*import ", code):
            continue
        for m in re.finditer(r"(?<![\w.])broadcast\(", code):
            blob = code[m.start():]
            k = idx + 1
            while blob.count("(") > blob.count(")") and k < min(idx + 14, len(lines)):
                blob += "\n" + codes[k]
                k += 1
            arg = balanced_arg(blob, blob.find("("))
            kind, ann = bound_annotation(lines, idx)
            yield idx + 1, arg.strip(), kind, ann


def find_def(lines, site_line, ident):
    """Nearest preceding `val ident =` or `def ident(...) =`; returns
    (rhs_text, (annotation_kind, reason)). Definition annotations bind
    the same way as site annotations: trailing on the def line or in the
    contiguous comment block immediately above it."""
    vpat = re.compile(r"^\s*(?:lazy\s+)?val\s+" + re.escape(ident) + r"\s*(?::[^=]+)?=")
    dpat = re.compile(r"^\s*(?:private\s+)?def\s+" + re.escape(ident) + r"\s*(?:[\(\[:]|=)")

    def found(i):
        return statement_rhs(lines, i), bound_annotation(lines, i)

    for i in range(site_line - 2, -1, -1):
        ln = strip_comments(lines[i])
        if vpat.match(ln) or dpat.match(ln):
            return found(i)
    # object-level defs may be declared below the call site
    for i in range(site_line - 1, len(lines)):
        if dpat.match(strip_comments(lines[i])):
            return found(i)
    return None, (None, None)


# the enum tables by registry name OR by direct parquet path — both are
# the same 25/5-row frames
CATALOG = re.compile(r'"(nation|region)"|/(nation|region)\.parquet')
RANGE_LIT = re.compile(r"\.range\(\s*-?\d{1,6}[\s,)L]|(?<![\w.])range\(\s*-?\d{1,6}[\s,)L]")
# exploded literal sequence(lit(a), lit(b)) — arity fixed by the literals
SEQ_RANGE = re.compile(r"sequence\(\s*lit\(-?\d+L?\)\s*,\s*lit\(-?\d+L?\)")
# literal Seq only counts when it actually becomes the frame (.toDF /
# createDataFrame) — a bare Seq("k") join-key list must NOT certify
SEQ_LIT = re.compile(
    r"\bSeq\s*\((?:[^()]|\([^()]*\))*\)\s*(?:\.map\([^)]*\))?\s*\n?\s*\.toDF\("
    r"|createDataFrame|approxQuantile")
# .toDF over a LOCAL Scala collection (comprehension yield / .toSeq) — a
# driver-side literal table; bare df.toDF("a","b") renames do NOT match
LOCAL_TODF = re.compile(r"yield[\s\S]{0,200}\.toDF\(|\.toSeq\s*\n?\s*\.toDF\(")
# a bare driver-side comprehension (val rows = for (...) yield ...) over
# LITERAL ranges only: every generator must be `x <- NUM until/to NUM` —
# a comprehension whose bound is an identifier could be corpus-derived
# (val n = df.count().toInt) and is NOT certified (review r14); such
# sites need an annotation stating the bound (the q301 ring is one)
LOCAL_FOR = re.compile(
    r"^\s*for\s*\(\s*(?:[A-Za-z_]\w*\s*<-\s*\d+\s+(?:until|to)\s+\d+\s*;?\s*)+\)"
    r"\s*yield\b")


def bounded_group_args(argtext):
    """True when EVERY element of a groupBy/select arg list is provably
    bounded-arity: "x" / col("x") / col("x").as("y") with x in
    BOUNDED_KEYS, or a pmod(..., lit(K)) bucket (arity = the literal
    modulus)."""
    # output aliases don't govern arity — the SOURCE column does
    argtext = re.sub(r'\.as\("[\w]*"\)', "", argtext)
    # pmod-bucket expressions: arity bounded by the literal modulus
    stripped = re.sub(r"pmod\([^()]*(?:\([^()]*\)[^()]*)*lit\((\d+)L?\)\)",
                      "", argtext)
    names = re.findall(r'col\("([A-Za-z_][\w]*)"\)|"([A-Za-z_][\w]*)"', stripped)
    flat = [a or b for a, b in names]
    residue = re.sub(r'col\("[\w]*"\)(\.as\("[\w]*"\))?|"[\w]*"|[\s,]', "", stripped)
    had_pmod = stripped != argtext
    if residue != "":
        return False
    if not flat and not had_pmod:
        return False
    return all(n in BOUNDED_KEYS for n in flat)


# generator expressions multiply rows by DATA-sized array lengths — a
# select/withColumn/selectExpr is only row-preserving when it carries
# none, so a generator AFTER a bounding op re-grows the frame. Exploding
# a literal sequence keeps a literal arity and stays bounded.
EXPLODE = re.compile(r"(?<![\w.])(?:pos)?explode(?:_outer)?\s*\(|(?<![\w.])inline(?:_outer)?\s*\(")


def explode_unbounded(argtext):
    return bool(EXPLODE.search(argtext)) and not SEQ_RANGE.search(argtext)


# A .limit(...) certifies LIMIT_K only when its argument is provably a
# CONSTANT (ADVICE r14): an integer literal / literal arithmetic,
# optionally through math.max|min|abs|ceil|floor and .toInt/.toLong, or
# an identifier the caller's int-resolver traces to such a constant
# in-file. A corpus-derived limit (.limit(df.count().toInt / 2)) is
# data-sized — bucketing it LIMIT_K would contradict the lint's
# corpus-independence claim (and the literal-only rule LOCAL_FOR already
# applies to comprehensions); such sites need an annotation.
INT_CONST = re.compile(r"^[\d\s_+\-*/%(),.L]*\d[\d\s_+\-*/%(),.L]*$")
INT_STRIP = re.compile(r"math\.(?:max|min|abs|ceil|floor)\b|\.toInt\b|\.toLong\b")


def const_int_text(t):
    t = INT_STRIP.sub("", (t or "")).strip()
    # after stripping the whitelisted numeric wrappers, only digits and
    # arithmetic punctuation may remain ('.' only as part of a numeric
    # literal — any residual identifier char fails the match)
    return bool(INT_CONST.match(t)) and not re.search(r"[A-Za-z_]", t.replace("L", ""))


def classify_calls(calls, text, int_resolve=None):
    """Bounding verdict from a depth-0 call sequence KNOWN to be grow-free
    (callers split on GROW first): LIMIT_K / ONE_ROW_AGG / GROUPED_KEY /
    None. The LAST grouped head governs GROUPED_KEY, and a non-literal
    generator (explode/inline) AFTER the bounding op voids the bound
    (round 14 — `select` preserves rows only without generators)."""
    names = [c[0] for c in calls]

    def bounded_after(bidx):
        return not any(explode_unbounded(c[2]) for c in calls[bidx + 1:])

    if "limit" in names:
        bidx = max(i for i, n in enumerate(names) if n == "limit")
        larg = calls[bidx][2]
        if not (const_int_text(larg) or (int_resolve and int_resolve(larg))):
            return None
        return "LIMIT_K" if bounded_after(bidx) else None
    if "TakeOrdered" in text:
        return "LIMIT_K"
    grouped = [(i, c) for i, c in enumerate(calls)
               if c[0] in ("groupBy", "rollup", "cube") and c[2].strip()]
    n_agg = names.count("agg")
    if n_agg > len(grouped):
        # in a grow-free linear chain every grouped head consumes exactly
        # one .agg(...), so more aggs than grouped heads means the final
        # stage is global -> 1 row out
        bidx = max(i for i, n in enumerate(names) if n == "agg")
        return "ONE_ROW_AGG" if bounded_after(bidx) else None
    if grouped and n_agg >= 1:
        # the LAST grouped head's key set governs the output arity; its
        # consuming .agg is the first agg after it
        if bounded_group_args(grouped[-1][1][2]):
            gi = grouped[-1][0]
            aggs_after = [i for i, n in enumerate(names) if n == "agg" and i > gi]
            bidx = aggs_after[0] if aggs_after else gi
            return "GROUPED_KEY" if bounded_after(bidx) else None
    # .select(<bounded keys>).distinct() — the last such pair governs
    for i in range(len(calls) - 1, 0, -1):
        if calls[i][0] == "distinct" and calls[i - 1][0] == "select" \
                and bounded_group_args(calls[i - 1][2]):
            return "GROUPED_KEY" if bounded_after(i) else None
    return None


def classify_text(text, resolve=None, depth=4, int_resolve=None):
    """Chain-aware bounding classification of an expression text.
    `resolve` classifies a sub-segment (identifier resolution etc.) for
    the PRODUCT rule; without it, grow-containing chains whose tail is
    unbounded return None. `int_resolve` traces a .limit argument
    identifier to an in-file integer constant (LIMIT_K, ADVICE r14)."""
    if text is None:
        return None
    text = text.strip()
    # a broadcast(...) wrapper is bound-transparent — classify the frame
    # inside (join arguments are routinely pre-wrapped at the call site)
    if re.match(r"broadcast\(", text):
        inner = balanced_arg(text, text.find("("))
        after = text[text.find("(") + len(inner) + 2:]
        if not after.strip():
            return classify_text(inner.strip(), resolve, depth, int_resolve)
    calls = depth0_calls(text)
    grow_ix = [i for i, c in enumerate(calls) if c[0] in GROW]
    if not grow_ix:
        bucket = classify_calls(calls, text, int_resolve)
        if bucket:
            return bucket
        # catalog / literal-frame / literal-key patterns look INSIDE call
        # parens (read paths, literal Seqs), so they are only sound on
        # join-free text — which this branch guarantees at depth 0; guard
        # against nested grows too (a join inside a helper call argument)
        if re.search(r"\.(join|crossJoin|union\w*)\(", text):
            return None
        # a non-literal generator voids text-pattern bounds (the pattern
        # cannot prove it precedes the bounding construct)
        if explode_unbounded(text):
            return None
        if CATALOG.search(text):
            return "FIXED_CATALOG"
        if RANGE_LIT.search(text) or SEQ_LIT.search(text) \
                or LOCAL_TODF.search(text) or SEQ_RANGE.search(text) \
                or LOCAL_FOR.match(text):
            return "FIXED_CATALOG"
        if LITERAL_KEY.search(text):
            return "LITERAL_KEY"
        return None
    # --- the chain contains depth-0 grows ---
    # Rule A: a bounding op AFTER the last grow bounds the whole chain
    # (sound regardless of what precedes — limit/global-agg/bounded-key
    # heads cap the OUTPUT arity independent of input size)
    tail = calls[grow_ix[-1] + 1:]
    bucket = classify_calls(tail, "", int_resolve)
    if bucket:
        return bucket
    # Rule B (PRODUCT): head segment and every grow argument each bounded
    # -> |A join B| <= |A| x |B| (equi or cross), |A union B| <= |A|+|B|.
    # Sound only if every depth-0 call from the first grow onward is a
    # known grow or known non-grow (an unknown method could re-grow the
    # frame after the product bound); the head segment is classified
    # recursively, so its own calls need no vetting here.
    if any(c[0] not in GROW and c[0] not in NONGROW
           for c in calls[grow_ix[0]:]):
        return None
    # a non-literal generator anywhere in the grow chain multiplies the
    # product bound by data-sized array lengths
    if any(explode_unbounded(c[2]) for c in calls[grow_ix[0]:]):
        return None
    if resolve is None or depth <= 0:
        return None
    head = text[:calls[grow_ix[0]][1]].strip()
    segments = [head] + [first_toplevel_arg(calls[i][2]).strip() for i in grow_ix]
    parts = []
    for seg in segments:
        b = classify_text(seg, resolve, depth - 1, int_resolve)
        if b is None:
            b = resolve(seg, depth - 1)
        if b is None:
            return None
        parts.append(b)
    global _last_product_parts
    _last_product_parts = " x ".join(parts)
    return "PRODUCT"


# display-only: the component buckets of the most recent PRODUCT proof,
# surfaced as the census `reason` so an auditor can see WHAT was bounded
# (nested PRODUCTs overwrite — the outermost caller reads it last-wins)
_last_product_parts = None


HEAD_ID = re.compile(r"^([A-Za-z_][\w]*)\s*(?:\.|$|\()")

ANN_BUCKETS = {"sqrt": "SQRT_BOUNDED", "exempt": "EXEMPT"}


def classify(lines, lineno, arg, depth=4):
    """Classify an argument expression, resolving identifiers and
    stripping non-growing tails. Returns (bucket, reason)."""
    reason_box = [None]

    def resolve(seg, d):
        b, r = classify_ident(lines, lineno, seg, d)
        if r:
            reason_box[0] = r
        return b

    def int_resolve(argtext, d=2):
        # a bare identifier .limit arg resolves through its in-file val
        # (one hop per depth) to an integer constant; anything else —
        # parameters, corpus-derived counts — needs an annotation
        m = re.match(r"^\s*([A-Za-z_]\w*)\s*$", argtext or "")
        if not m or d <= 0:
            return False
        rhs, _ = find_def(lines, lineno, m.group(1))
        if rhs is None:
            return False
        body = re.sub(r"^\s*(?:lazy\s+)?(?:private\s+)?(?:val|def)\s+[\w]+[^=]*=",
                      "", rhs, count=1).strip()
        return const_int_text(body) or int_resolve(body, d - 1)

    bucket = classify_text(arg, resolve, depth, int_resolve)
    if bucket == "PRODUCT" and _last_product_parts:
        return bucket, _last_product_parts
    if bucket:
        return bucket, reason_box[0]
    return classify_ident(lines, lineno, arg, depth)


def last_statement(block):
    """The result expression of a `{ ... }` block body: its last
    top-level statement (same continuation heuristics as statement_rhs).
    A block's bound is its result's bound; intermediate vals resolve
    later through find_def as usual."""
    inner = block.strip()
    if inner.startswith("{"):
        inner = balanced_braces(inner)
    ls = inner.splitlines()
    starts = []
    for i, ln in enumerate(ls):
        code = strip_comments(ln)
        if not code.strip():
            continue
        upto = "\n".join(strip_comments(x) for x in ls[: i])
        unbal = upto.count("(") > upto.count(")") or upto.count("{") > upto.count("}")
        cont = re.match(r"\s*([.+\-*/]|\|\||&&|===|:)", code) \
            or re.search(r"(=|=>|\+|-|\*|/|&&|\|\||,|\()\s*$",
                         strip_comments(ls[i - 1]) if i else "")
        if not unbal and not cont:
            starts.append(i)
    if not starts:
        return inner
    return "\n".join(ls[starts[-1]:])


def balanced_braces(text):
    """Content of the leading balanced { ... } region of `text`."""
    depth = 0
    in_str = False
    for i, c in enumerate(text):
        if c == '"' and (i == 0 or text[i - 1] != "\\"):
            in_str = not in_str
        if in_str:
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return text[1:i]
    return text[1:]


def classify_ident(lines, lineno, arg, depth):
    """Resolve a bare-identifier head through its in-file definition."""
    if depth <= 0:
        return None, None
    arg = arg.strip()
    if re.match(r"broadcast\(", arg):
        inner = balanced_arg(arg, arg.find("("))
        after = arg[arg.find("(") + len(inner) + 2:]
        if not after.strip():
            return classify_ident(lines, lineno, inner.strip(), depth)
    m = HEAD_ID.match(arg)
    if not m:
        return None, None
    head = m.group(1)
    rest = arg[m.end(1):]
    # tail must be only non-growing method calls (or a bare identifier /
    # zero-arg local def call) for the head's bound to transfer; only the
    # DEPTH-0 chain is vetted — nested calls are Column expressions inside
    # a non-growing method's argument, not frame transformers. A generator
    # (explode/inline) inside any tail call re-grows the frame, so it
    # blocks the transfer (round 14).
    tail_calls = depth0_calls(rest)
    tail_ok = all(meth in NONGROW for meth, _, _ in tail_calls) \
        and not any(explode_unbounded(a) for _, _, a in tail_calls)
    if rest.strip() not in ("", "()") and not tail_ok:
        return None, None
    rhs, (ann_kind, def_ann) = find_def(lines, lineno, head)
    if rhs is None:
        return None, None
    # classify the definition's own expression (strip the 'val x =' head)
    body = re.sub(r"^\s*(?:lazy\s+)?(?:private\s+)?(?:val|def)\s+[\w]+[^=]*=", "", rhs, count=1)
    body = body.strip()
    # a block body's bound is its RESULT expression's bound
    if body.startswith("{"):
        body = last_statement(body)
    bucket, reason = classify(lines, lineno, body.strip(), depth - 1)
    if bucket is None and def_ann:
        return ("SQRT_BOUNDED" if ann_kind == "sqrt" else "ANNOTATED"), def_ann
    return bucket, reason


def find_cross_sites(path, lines):
    """Un-broadcast `.crossJoin(arg)` sites: (lineno, receiver, arg, ann).
    Sites whose arg is wrapped in broadcast(...) are already covered by
    the broadcast census (the wrap IS the classified site)."""
    codes = code_only(lines)
    for idx, code in enumerate(codes):
        for m in re.finditer(r"\.crossJoin\(", code):
            blob = code[m.start():]
            k = idx + 1
            while blob.count("(") > blob.count(")") and k < min(idx + 14, len(lines)):
                blob += "\n" + codes[k]
                k += 1
            arg = balanced_arg(blob, blob.find("(")).strip()
            if re.match(r"broadcast\(", arg):
                continue
            # receiver: the statement text up to this .crossJoin — walk
            # back while lines are continuations (start with '.') so a
            # chained 1-row receiver (x.agg(...).crossJoin(a).crossJoin(b))
            # classifies as a whole; plus the last bare identifier as a
            # resolvable fallback
            back = idx
            while back > 0 and re.match(r"\s*\.", lines[back].lstrip()[:1] and lines[back]) \
                    and re.match(r"\s*[.)]", lines[back]):
                back -= 1
            recv_text = "\n".join(codes[back:idx]) + "\n" + code[: m.start()]
            recv = None
            rm = re.search(r"(?<![\w.])([A-Za-z_][\w]*)\s*$", code[: m.start()])
            if rm:
                recv = rm.group(1)
            kind, ann = bound_annotation(lines, idx)
            yield idx + 1, recv, recv_text, arg, kind, ann


def lint_file(path, lines, rel):
    """Classify every broadcast and un-broadcast crossJoin site of one
    file; returns (sites, cross_sites)."""
    sites = []
    cross_sites = []
    param_anns = {}
    for ln in lines:
        pm = PARAM_ANNOT.search(ln)
        if pm:
            param_anns[pm.group(1)] = ("ANNOTATED", pm.group(2).strip())
        sm = SQRT_PARAM_ANNOT.search(ln)
        if sm:
            param_anns[sm.group(1)] = ("SQRT_BOUNDED", sm.group(2).strip())

    def param_lookup(arg):
        hm = HEAD_ID.match(arg)
        if hm and hm.group(1) in param_anns:
            tcalls = depth0_calls(arg[hm.end(1):])
            tail_ok = all(meth in NONGROW for meth, _, _ in tcalls) \
                and not any(explode_unbounded(a) for _, _, a in tcalls)
            if tail_ok:
                return param_anns[hm.group(1)]
        return None, None

    # the deliberate-defect exemption is scoped to the audit tooling
    # (and the selftest fixtures): a lint-exempt marker anywhere else is
    # itself a lint failure, so it cannot wave through operator code
    exempt_allowed = "graft/tools/" in path.replace(os.sep, "/") \
        or os.path.normpath(FIXTURES) in os.path.normpath(path)

    for lineno, arg, ann_kind, ann in find_sites(path, lines):
        bucket, reason = classify(lines, lineno, arg)
        if bucket is None and ann:
            if ann_kind == "exempt" and not exempt_allowed:
                bucket, reason = "OTHER", "lint-exempt outside graft/tools -- not allowed"
            else:
                bucket = ANN_BUCKETS.get(ann_kind, "ANNOTATED")
                reason = ann
        if bucket is None:
            pb, pr = param_lookup(arg)
            if pb:
                bucket, reason = pb, pr
        if bucket is None:
            bucket = "OTHER"
        sites.append({
            "site": f"{rel}:{lineno}",
            "arg": re.sub(r"\s+", " ", arg)[:90],
            "bucket": bucket,
            "reason": reason,
        })
    # crossJoin pass: a BroadcastNestedLoopJoin builds the SMALLER
    # side whichever position it sits in, so the site passes when
    # EITHER the argument or the receiver is provably bounded.
    for lineno, recv, recv_text, arg, ann_kind, ann in find_cross_sites(path, lines):
        bucket, reason = classify(lines, lineno, arg)
        side = "arg"
        if bucket is None and not re.search(
                r"\.(join|crossJoin|union\w*)\(", recv_text):
            # a join inside the chain could splice in another frame's
            # grain, so the chain-text shortcut is join-free only
            bucket = classify_text(recv_text)
            if bucket:
                side = "receiver-chain"
        if bucket is None and recv:
            bucket, reason = classify(lines, lineno, recv)
            side = "receiver"
        if bucket is None and ann:
            if ann_kind == "exempt" and not exempt_allowed:
                bucket, reason, side = "OTHER", \
                    "lint-exempt outside graft/tools -- not allowed", "-"
            else:
                bucket = ANN_BUCKETS.get(ann_kind, "ANNOTATED")
                reason, side = ann, "annotation"
        if bucket is None:
            pb, pr = param_lookup(arg)
            if pb:
                bucket, reason, side = pb, pr, "param"
        if bucket is None:
            bucket, side = "OTHER", "-"
        cross_sites.append({
            "site": f"{rel}:{lineno}",
            "arg": re.sub(r"\s+", " ", arg)[:90],
            "receiver": recv,
            "bucket": bucket,
            "bounded_side": side,
            "reason": reason,
        })
    return sites, cross_sites


def counts_of(sites):
    counts = {}
    for s in sites:
        counts[s["bucket"]] = counts.get(s["bucket"], 0) + 1
    return counts


def render_md(report):
    """Markdown census table — the ONE source of truth PLANS.md/NOTES
    reference (round-14: quoting counts by hand drifted from the
    artifact; now the artifact renders its own prose)."""
    lines = ["# Broadcast-hint census (generated by tools/hint_lint.py — do not edit)",
             "",
             f"`broadcast(...)` sites: **{report['total']}**, "
             f"un-broadcast `.crossJoin` build sides: **{report['cross_total']}**.",
             "", "| bucket | broadcast sites | crossJoin sides |", "|---|---|---|"]
    keys = sorted(set(report["counts"]) | set(report["cross_counts"]))
    for k in keys:
        lines.append(f"| {k} | {report['counts'].get(k, 0)} | "
                     f"{report['cross_counts'].get(k, 0)} |")
    lines.append(f"| **total** | **{report['total']}** | **{report['cross_total']}** |")
    lines.append("")
    gate = "PASS" if not report["other"] and not report["cross_other"] else "FAIL"
    lines.append(f"Gate (OTHER = 0 on both): **{gate}**.")
    lines.append("")
    return "\n".join(lines)


EXPECT = re.compile(r"//\s*expect:\s*([A-Z_]+)")


def selftest():
    """Planted-defect fixtures (VERDICT r13 #1): the gate has never been
    observed to fail, so OTHER = 0 could rot into a vacuous truth. Each
    fixture line-group carries an `// expect: <BUCKET>` marker on its
    broadcast/crossJoin site line; the selftest classifies the fixture
    as if it were main source and asserts EVERY expectation — including
    the planted OTHERs — matches. Exit 1 on any mismatch."""
    failures = []
    checked = 0
    for path in sorted(scala_files(FIXTURES)):
        with open(path) as f:
            lines = f.read().splitlines()
        rel = os.path.relpath(path, FIXTURES)
        sites, cross_sites = lint_file(path, lines, rel)
        expected = {}
        for i, ln in enumerate(lines):
            em = EXPECT.search(ln)
            if em:
                expected[i + 1] = em.group(1)
        got = {}
        for s in sites + cross_sites:
            lineno = int(s["site"].rsplit(":", 1)[1])
            got[lineno] = s["bucket"]
        for lineno, want in sorted(expected.items()):
            checked += 1
            if lineno not in got:
                failures.append(f"{rel}:{lineno} expected {want} but no site was detected")
            elif got[lineno] != want:
                failures.append(f"{rel}:{lineno} expected {want} got {got[lineno]}")
        for lineno, bucket in sorted(got.items()):
            if lineno not in expected:
                failures.append(f"{rel}:{lineno} unexpected site (bucket {bucket}) "
                                f"without an // expect marker")
    print(f"selftest: {checked} fixture expectations checked")
    for f_ in failures:
        print(f"  MISMATCH {f_}")
    if failures:
        print(f"SELFTEST FAIL: {len(failures)} mismatches")
        return 1
    if checked == 0:
        print("SELFTEST FAIL: no fixture expectations found (fixtures missing?)")
        return 1
    print("SELFTEST PASS: every planted defect is caught and every control classifies")
    return 0


def main():
    if "--selftest" in sys.argv:
        return selftest()
    out_json = None
    if "--json" in sys.argv:
        out_json = sys.argv[sys.argv.index("--json") + 1]
    out_md = None
    if "--md" in sys.argv:
        out_md = sys.argv[sys.argv.index("--md") + 1]
    sites = []
    cross_sites = []
    for path in scala_files(SRC):
        with open(path) as f:
            lines = f.read().splitlines()
        rel = os.path.relpath(path, os.path.join(SRC, "..", "..", ".."))
        s, c = lint_file(path, lines, rel)
        sites.extend(s)
        cross_sites.extend(c)
    report = {"total": len(sites), "counts": counts_of(sites),
              "other": [s for s in sites if s["bucket"] == "OTHER"],
              "sites": sites,
              "cross_total": len(cross_sites), "cross_counts": counts_of(cross_sites),
              "cross_other": [s for s in cross_sites if s["bucket"] == "OTHER"],
              "cross_sites": cross_sites}
    if out_json:
        with open(out_json, "w") as f:
            json.dump(report, f, indent=1)
    if out_md:
        with open(out_md, "w") as f:
            f.write(render_md(report))
    print(f"broadcast sites: {len(sites)}  buckets: {report['counts']}")
    print(f"crossJoin sites (un-broadcast): {len(cross_sites)}  buckets: {report['cross_counts']}")
    for s in report["other"]:
        print(f"  OTHER {s['site']}  broadcast({s['arg']})")
    for s in report["cross_other"]:
        print(f"  OTHER {s['site']}  {s['receiver']}.crossJoin({s['arg']})")
    bad = len(report["other"]) + len(report["cross_other"])
    if bad:
        print(f"FAIL: {bad} unclassified broadcast/crossJoin build sides")
        return 1
    print("PASS: every broadcast() and crossJoin() site is provably bounded or annotated")
    return 0


if __name__ == "__main__":
    sys.exit(main())
