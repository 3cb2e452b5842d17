"""Property-based tests (SURVEY.md §5.2.6, hypothesis) over the pure-python
kernels that back the vectorized UDFs — no SparkSession needed, so these
fuzz orders of magnitude more inputs per second than DataFrame tests.

Each property here is a correctness invariant the engine RELIES on:
canonicalization idempotence (the frontier stores canon output and may
re-canonicalize on resume), dot-segment elimination (seen-set identity),
AMQ no-false-negatives (crawl-order equality), span-fingerprint injectivity
on order (the driver's per-row invariant).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from croawl_spark.functions.extract import (
    _OAI_RE,
    _TAG_RE,
    _attrs,
    extract_from_html,
    span_fingerprint,
)
from croawl_spark.functions.urls import canonicalize_url
from croawl_spark.operators.seenfilter import (
    _ck_fp,
    _ck_i1,
    _CuckooTable,
    _positions,
    _set_bits,
    _test_bits,
)

# -- F3 canonicalization ------------------------------------------------------

url_texts = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=80,
)
hostish = st.from_regex(r"[A-Za-z0-9.\-]{1,20}", fullmatch=True)
pathish = st.from_regex(r"(/[A-Za-z0-9._~%!$&'()*+,;=:@\-]{0,10}|/\.\.|/\.){0,6}", fullmatch=True)


@settings(max_examples=300)
@given(st.text(max_size=100))
def test_canonicalize_never_crashes_and_is_idempotent(s):
    c = canonicalize_url(s)
    if c is not None:
        assert canonicalize_url(c) == c  # idempotence: F3(F3(u)) = F3(u)


@settings(max_examples=300)
@given(
    scheme=st.sampled_from(["http", "HTTP", "https", "HtTpS"]),
    host=hostish,
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=pathish,
    query=st.sampled_from(["", "?a=1&b=2", "?z"]),
    frag=st.sampled_from(["", "#f", "#"]),
)
def test_canonicalize_structured_urls(scheme, host, port, path, query, frag):
    u = f"{scheme}://{host}{port}{path}{query}{frag}"
    c = canonicalize_url(u)
    if c is None:
        return
    assert canonicalize_url(c) == c
    assert "#" not in c                      # fragment stripped
    sch, rest = c.split("://", 1)
    assert sch in ("http", "https")          # scheme lowercased
    hostpart = rest.split("/", 1)[0]
    canon_path = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
    canon_path = canon_path.split("?", 1)[0]
    # dot-segments resolved (host may legitimately contain dots)
    assert "/../" not in canon_path and not canon_path.endswith("/..")
    assert "/./" not in canon_path and not canon_path.endswith("/.")
    assert hostpart == hostpart.lower()      # host lowercased
    assert not hostpart.endswith(":80") or sch == "https"
    assert not hostpart.endswith(":443") or sch == "http"


# -- A6 bloom kernel ----------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(
    inserted=st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=300, unique=True),
    probes=st.lists(st.integers(-(2**63), 2**63 - 1), max_size=100),
    m_log2=st.integers(10, 14),
)
def test_bloom_kernel_no_false_negatives(inserted, probes, m_log2):
    m = 1 << m_log2
    bits = np.zeros(m // 8, dtype=np.uint8)
    ins = np.array(inserted, dtype=np.int64)
    _set_bits(bits, _positions(ins, m))
    assert _test_bits(bits, _positions(ins, m)).all()  # FN impossible
    if probes:
        _ = _test_bits(bits, _positions(np.array(probes, dtype=np.int64), m))


# -- A6 cuckoo kernel ---------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(
    items=st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=200, unique=True),
    m_log2=st.integers(7, 10),
)
def test_cuckoo_kernel_roundtrip(items, m_log2):
    ck = _CuckooTable(1 << m_log2)
    arr = np.array(items, dtype=np.int64)
    ok = [ck.insert(int(h)) for h in items]
    if all(ok):  # low load by construction; overflow only at tiny m + max n
        assert ck.contains_many(arr).all()  # no false negatives for present
    # delete everything that went in; deletes must report success
    for h, inserted in zip(items, ok):
        if inserted:
            assert ck.delete(int(h))


def test_cuckoo_delete_is_copy_safe_under_fp_collision():
    """The expiry path's safety claim: two DISTINCT hashes that collide on
    (fingerprint, primary bucket) each insert their own fingerprint copy,
    so deleting one cannot unmark the other — no false negative for the
    retained item. (fp = bits 40-55, i1 = low log2(m) bits; flipping an
    unused middle bit builds a guaranteed collider.)"""
    m = 1 << 10
    h1 = 0x123456789ABCDEF
    h2 = h1 ^ (1 << 20)  # same fp (bits 40+), same i1 (low 10 bits)
    arr = np.array([h1, h2], dtype=np.int64)
    assert (_ck_fp(arr)[0] == _ck_fp(arr)[1]) and (_ck_i1(arr, m)[0] == _ck_i1(arr, m)[1])
    ck = _CuckooTable(m)
    assert ck.insert(h1) and ck.insert(h2)
    assert ck.contains_many(arr).all()
    assert ck.delete(h1)
    assert ck.contains_many(np.array([h2], dtype=np.int64)).all(), (
        "deleting h1 removed h2's copy — copy-safety broken"
    )


# -- V1 span fingerprint ------------------------------------------------------

span_st = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["text", "media"]),
        "text": st.one_of(st.none(), st.text(max_size=20)),
        "media_ref": st.one_of(st.none(), st.text(max_size=20)),
        "offset": st.integers(0, 100),
    }
)


@settings(max_examples=200)
@given(st.lists(span_st, max_size=6))
def test_span_fingerprint_is_offset_order_invariant(spans):
    # distinct offsets => permuting the list must not change the fingerprint
    # (fingerprint is over offset-SORTED spans, the driver's order rule)
    seen_offsets = set()
    uniq = []
    for s in spans:
        if s["offset"] not in seen_offsets:
            seen_offsets.add(s["offset"])
            uniq.append(s)
    fp = span_fingerprint(uniq)
    assert span_fingerprint(list(reversed(uniq))) == fp
    if len(uniq) >= 2:
        # changing content MUST change the fingerprint (separator-injection
        # resistant: fields are delimited, not concatenated bare)
        mutated = [dict(s) for s in uniq]
        mutated[0]["kind"] = "media" if mutated[0]["kind"] == "text" else "text"
        assert span_fingerprint(mutated) != fp


# -- V3 extraction: the distractor-<meta> skip --------------------------------


def _extract_oracle(html: str) -> dict:
    """extract_from_html as it was before ``<meta>`` tags without ``dc.``
    skipped the attribute parse: every tag's attributes are parsed."""
    title = identifier = oai = None
    creators: list[str] = []
    outlinks: list[str] = []
    for m in _TAG_RE.finditer(html):
        tag = m.group(1).lower()
        a = _attrs(m.group(2))
        if tag == "meta":
            name = (a.get("name") or "").lower()
            content = a.get("content")
            if content is None:
                continue
            if name == "dc.title" and title is None:
                title = content
            elif name == "dc.creator":
                creators.append(content)
            elif name == "dc.identifier" and identifier is None:
                identifier = content
        else:
            href = a.get("href")
            if not href:
                continue
            if tag == "a":
                outlinks.append(href)
            if oai is None and _OAI_RE.search(href):
                oai = href
    return {
        "dc_title": title,
        "dc_creator": creators,
        "dc_identifier": identifier,
        "oai_endpoint": oai,
        "outlinks": outlinks,
    }


_meta_names = st.sampled_from([
    "dc.title", "DC.Title", "dc.CREATOR", "Dc.Identifier", "dc.creator", "dc.identifier",
    "citation_dc.title", "citation_title", "citation_author", "og:title", "description",
    "dc.titles", "xdc.creator", "DC.", "",
])
_attr_values = st.one_of(
    st.text(alphabet=st.characters(codec="utf-8", exclude_characters="\"'<>"), max_size=10),
    st.sampled_from(["dc.title", "see DC.x", "http://h.test/oai?verb=Identify"]),
)


@st.composite
def _meta_tag(draw):
    q = draw(st.sampled_from(['"', "'"]))
    attrs = [f"{draw(st.sampled_from(['name', 'NAME', 'Name']))}={q}{draw(_meta_names)}{q}"]
    if draw(st.booleans()):
        attrs.append(f"content = {q}{draw(_attr_values)}{q}")
    if draw(st.booleans()):
        attrs.append(f"lang={q}{draw(_attr_values)}{q}")
    attrs = draw(st.permutations(attrs))
    return f"<{draw(st.sampled_from(['meta', 'META', 'Meta']))} {' '.join(attrs)}>"


@st.composite
def _link_tag(draw):
    q = draw(st.sampled_from(['"', "'"]))
    href = draw(st.one_of(_attr_values, st.sampled_from(["/oai/request", "/p/1", ""])))
    return f"<{draw(st.sampled_from(['a', 'link', 'A']))} href={q}{href}{q}>"


_pages = st.lists(
    st.one_of(_meta_tag(), _link_tag(), st.text(max_size=12)), max_size=25
).map("".join)


@settings(max_examples=300, deadline=None)
@given(_pages)
def test_extract_meta_skip_equals_full_attribute_parse(html):
    assert extract_from_html(html) == _extract_oracle(html)
