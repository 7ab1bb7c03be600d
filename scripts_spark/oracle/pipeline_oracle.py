"""Pure-Python oracle for the full curation pipeline.

Recomputes, row-at-a-time over an in-memory list of page dicts, exactly
what plans/pipeline.curate computes distributed — the golden-label
parity harness in the reference's own style (gold CSVs joined back to
the corpus, /root/reference/src/segmentation_accuracy_estimate.py:48-72).
Tests assert F1 ≥ 0.99 on keep/drop (expected: 1.0, since all decision
arithmetic is integer-exact) and byte-identical scrubbed_text per url.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

from scripts_spark.functions import langmodel
from scripts_spark.oracle import textoracle
from scripts_spark.plans.pipeline import CurateConfig

_DOMAIN = re.compile(r"^https?://([^/]+)/")
_DIGIT = re.compile("[0-9]")
_LETTER = re.compile("[A-Za-zÀ-þ]")
_UPPER = re.compile("[A-ZÀ-Þ]")


# The oracle runs the engine's own config and thresholds; perfbench
# imports it under this name. Its near-dedup twin is EXACT all-pairs
# shingle Jaccard (no LSH — at oracle scale O(n²) is fine and it
# upper-bounds the pipeline's candidate recall, so parity asserts LSH
# missed nothing on the fixture), same integer threshold + survivor
# rules as the plan.
OracleConfig = CurateConfig


def domain_of(url: str) -> str:
    m = _DOMAIN.match(url)
    return m.group(1) if m else ""


def repair(p: str) -> str:
    return textoracle.fix_capitalized_dashes(
        textoracle.join_soft_hyphens(textoracle.dollar_signs(p))
    )


def curate_rows(rows: list[dict], cfg: CurateConfig | None = None) -> dict[str, dict]:
    cfg = cfg or CurateConfig()

    def text_of(r: dict) -> str:
        # the engine's text: the text column, or with text_from_html the
        # html payload run through the extraction spec (the engine's
        # binary cast passes malformed UTF-8 through raw; this decodes
        # it to U+FFFD); null becomes ''
        if not cfg.text_from_html:
            return r["text"] or ""
        html = r["html"]
        if isinstance(html, (bytes, bytearray)):
            html = bytes(html).decode("utf-8", "replace")
        return textoracle.html_to_text(html) or ""

    # url dedup: keep min (warc_ts, coalesce(text,'')) — mirrors the
    # pipeline's groupBy(url).min(struct(warc_ts, text))
    best: dict[str, tuple] = {}
    for r in rows:
        key = (r["warc_ts"], text_of(r))
        if r["url"] not in best or key < best[r["url"]]:
            best[r["url"]] = key
    by_url = {url: text for url, (_, text) in best.items()}

    # repaired non-empty paragraphs per url
    paras: dict[str, list[str]] = {}
    for url, text in by_url.items():
        ps = [repair(p) for p in text.split("\n")]
        paras[url] = [p for p in ps if p != ""]

    # domain-level boilerplate lines
    dom_docs: Counter = Counter()
    line_docs: Counter = Counter()
    for url in by_url:
        dom = domain_of(url)
        dom_docs[dom] += 1
        for line in set(paras[url]):
            line_docs[(dom, line)] += 1
    boiler = {
        (dom, line)
        for (dom, line), n in line_docs.items()
        if n > cfg.boiler_min_docs and n * cfg.boiler_frac_den > dom_docs[dom] * cfg.boiler_frac_num
    }

    # corpus-wide paragraph dedup (opt-in): the survivor of a repeated
    # post-boiler paragraph is its first occurrence in (url, idx)
    # order — iterating urls ascending with a seen-set is exactly the
    # pipeline's min-(url, pidx) arg-min (within-doc repeats drop too)
    kept_by_url = {
        url: [p for p in paras[url] if (domain_of(url), p) not in boiler]
        for url in by_url
    }
    dup_by_url: dict[str, int] = {url: 0 for url in by_url}
    if cfg.para_dedup:
        seen: set[str] = set()
        for url in sorted(by_url):
            survivors = []
            for p in kept_by_url[url]:
                if p in seen:
                    dup_by_url[url] += 1
                else:
                    seen.add(p)
                    survivors.append(p)
            kept_by_url[url] = survivors

    # corpus-wide near-dedup (opt-in): exact pairwise Jaccard over the
    # k-word shingle SETS of the post-boiler (and post-para-dedup)
    # kept text, integer cross-multiplied threshold, then either
    # connected-component survival (min url per component) or
    # smaller-neighbor survival — the pure-Python twin of
    # pipeline._near_dup_losers
    nd_losers: dict[str, str] = {}
    if cfg.near_dedup:
        k = cfg.near_dedup_shingle_k
        sh: dict[str, set[str]] = {}
        for url in by_url:
            toks = textoracle.tokens("\n".join(kept_by_url[url]))
            sh[url] = {
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            }
        urls = sorted(u for u in by_url if "\n".join(kept_by_url[u]) != "")
        pairs: list[tuple[str, str]] = []
        for i, a in enumerate(urls):
            for b in urls[i + 1 :]:
                inter = len(sh[a] & sh[b])
                union = len(sh[a]) + len(sh[b]) - inter
                if inter > 0 and inter * cfg.near_dup_den >= union * cfg.near_dup_num:
                    pairs.append((a, b))
        if cfg.near_dedup_mode == "component":
            parent: dict[str, str] = {}

            def find(x: str) -> str:
                while parent.get(x, x) != x:
                    parent[x] = parent.get(parent[x], parent[x])
                    x = parent[x]
                return x

            for a, b in pairs:
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = min(ra, rb), max(ra, rb)
                    parent[hi] = lo
            for a, b in pairs:
                for u in (a, b):
                    root = find(u)
                    if root != u:
                        nd_losers[u] = root
        else:
            for a, b in pairs:
                nd_losers[b] = min(nd_losers.get(b, a), a)

    out: dict[str, dict] = {}
    for url in by_url:
        plist = paras[url]
        n_kept_pre_dedup = len(kept_by_url[url]) + dup_by_url[url]
        kept = kept_by_url[url]
        scrubbed = textoracle.scrub_all("\n".join(kept))

        toks = textoracle.tokens(scrubbed)
        counts = Counter(toks)
        n_tokens = len(toks)
        n_distinct = len(counts)
        tok_chars = sum(len(t) * c for t, c in counts.items())
        lang_score = sum(langmodel.token_score_py(t) * c for t, c in counts.items())

        norm_toks = [t for t in (textoracle.token_normalize(w) for w in toks) if t != ""]
        ppx_sum, n_bigrams = langmodel.doc_ppx_py(norm_toks)

        n_chars = len(scrubbed)
        n_digits = len(_DIGIT.findall(scrubbed))
        n_letters = len(_LETTER.findall(scrubbed))
        n_upper = len(_UPPER.findall(scrubbed))
        paras_total = len(plist)
        paras_boiler = paras_total - n_kept_pre_dedup
        paras_dup = dup_by_url[url]

        lang_pred = langmodel.lang_decision(lang_score)
        reasons = []
        if n_chars < cfg.min_chars:
            reasons.append("min_length")
        if n_tokens >= cfg.rep_min_tokens and n_distinct * cfg.rep_den < n_tokens * cfg.rep_num:
            reasons.append("repetition")
        if n_tokens > 0 and (
            tok_chars < n_tokens * cfg.word_len_min or tok_chars > n_tokens * cfg.word_len_max
        ):
            reasons.append("word_length")
        if n_chars > 0 and n_digits * cfg.digit_den > n_chars * cfg.digit_num:
            reasons.append("digit_ratio")
        if n_letters > cfg.caps_min_letters and n_upper * cfg.caps_den > n_letters * cfg.caps_num:
            reasons.append("caps_ratio")
        if paras_total > 0 and paras_boiler * cfg.boiler_doc_den > paras_total * cfg.boiler_doc_num:
            reasons.append("boilerplate")
        if (
            n_kept_pre_dedup > 0
            and paras_dup * cfg.para_dup_den > n_kept_pre_dedup * cfg.para_dup_num
        ):
            reasons.append("para_dup_frac")
        if url in nd_losers:
            reasons.append("near_dup")
        if lang_pred != "sv":
            reasons.append("lang")
        if n_bigrams > 0 and ppx_sum > langmodel.PPX_THRESHOLD_MILLI * n_bigrams:
            reasons.append("perplexity")
        reasons.sort()

        perpl = (
            ppx_sum / (n_bigrams * 1000.0)
            if n_bigrams > 0
            else langmodel.OOV_COST_MILLI / 1000.0
        )
        out[url] = {
            "url": url,
            "lang_pred": lang_pred,
            "lang_conf": langmodel.lang_conf(lang_score),
            "perplexity": perpl,
            "keep": len(reasons) == 0,
            "filter_reasons": reasons,
            "scrubbed_text": scrubbed,
            "doc_id": hashlib.sha256((url + "\n" + scrubbed).encode("utf-8")).hexdigest(),
        }
    return out
