"""Arc90 scoring behavior on small DOMs (readability-lxml 0.8.1 semantics)."""

from ragflow_spark.extractlib.htmlparse import extract_html, parse_html_text

LONG_P = ("This paragraph easily clears the twenty-five character scoring "
          "minimum, has a comma, and enough length to accumulate points.")


def _page(body: str, title: str = "T") -> bytes:
    return (f"<html><head><title>{title}</title></head>"
            f"<body>{body}</body></html>").encode()


def test_title_extraction_and_prepend():
    title, content = parse_html_text(
        _page(f"<article><p>{LONG_P}</p></article>", "My  Spaced\nTitle")
        .decode()
    )
    assert title == "My Spaced Title"  # whitespace-normalized
    assert content.startswith("This paragraph")


def test_missing_title_placeholder():
    out = extract_html(b"<html><body><p>%s</p></body></html>"
                       % LONG_P.encode())
    assert out.startswith("[no-title]\n")


def test_boilerplate_divs_removed_in_ruthless_pass():
    body = (
        '<div class="sidebar"><a href="/1">one</a> <a href="/2">two</a>'
        "</div>"
        f'<div class="article-content"><p>{LONG_P}</p><p>{LONG_P}</p></div>'
        '<div class="footer"><a href="/t">terms</a></div>'
    )
    out = extract_html(_page(body))
    assert "one" not in out and "terms" not in out
    assert out.count("This paragraph") == 2


def test_positive_class_not_removed():
    # "main" matches okMaybeItsACandidateRe -> survives unlikely removal
    body = (f'<div class="sidebar main"><p>{LONG_P}</p></div>')
    out = extract_html(_page(body))
    assert "This paragraph" in out


def test_div_without_block_children_becomes_paragraph():
    body = ("<div>plain text line one with enough characters to score "
            "well, definitely<br><br>second line also long enough to "
            "matter for the extraction, yes</div>")
    out = extract_html(_page(body))
    # br-separated lines inside the converted <p> render with single \n
    assert "\n\n" not in out.split("\n", 1)[1]
    assert "second line" in out


def test_link_density_scales_score_down():
    links = " ".join(f'<a href="/{i}">link text number {i} here</a>'
                     for i in range(12))
    body = (
        f'<div id="linkfarm"><p>{links} short tail.</p></div>'
        f'<div id="real"><p>{LONG_P}</p><p>{LONG_P}</p></div>'
    )
    out = extract_html(_page(body))
    assert "link text number 3" not in out
    assert "This paragraph" in out


def test_table_page_extracts_all_rows_when_table_wins():
    rows = "".join(
        f"<tr><td>row {i} cell with plenty of characters to clear the "
        f"scoring minimum easily, truly</td></tr>" for i in range(4)
    )
    out = extract_html(_page(f"<table>{rows}</table>"))
    for i in range(4):
        assert f"row {i} cell" in out


def test_sibling_paragraph_pulled_in():
    # sibling <p> with >80 chars and no links joins the article even
    # without a candidate score
    body = (
        f"<article><p>{LONG_P}</p><p>{LONG_P}</p></article>"
        f"<p>{LONG_P}</p>"
    )
    out = extract_html(_page(body))
    assert out.count("This paragraph") == 3


def test_short_page_retry_returns_body():
    out = extract_html(_page("<p>tiny.</p>"))
    assert out == "T\ntiny."


ART3 = f"<p>{LONG_P}</p><p>{LONG_P}</p><p>{LONG_P}</p>"


def _content(body: str) -> str:
    from ragflow_spark.extractlib.htmlparse import parse_html_text
    _t, c = parse_html_text(_page(f'<div id="main">{body}</div>').decode())
    return c


def test_sanitize_drops_image_heavy_div():
    # the library's `div and img >= 1: continue` is COMMENTED OUT in
    # 0.8.1 — a div gallery (img > 1 + 1.3*p) must be cleaned
    c = _content(f'{ART3}<div class="x"><p>cap</p><img src="a">'
                 '<img src="b"><img src="c"><img src="d"></div>')
    assert "cap" not in c


def test_sanitize_drops_image_heavy_section():
    c = _content(f'{ART3}<section class="x"><p>cap</p><img src="a">'
                 '<img src="b"><img src="c"><img src="d"></section>')
    assert "cap" not in c


def test_sanitize_drops_input_heavy_block():
    c = _content(f'{ART3}<div class="x">Sign up for the newsletter '
                 'here today<input type="text"><input type="submit">'
                 '</div>')
    assert "newsletter" not in c


def test_sanitize_hidden_inputs_do_not_count():
    c = _content(f'{ART3}<div class="x">Sign up for the newsletter '
                 'here today, worth keeping for length reasons'
                 '<input type="hidden"><input type="hidden"></div>')
    assert "newsletter" in c


def test_sanitize_drops_positive_class_link_farm():
    links = f'<a href="/x">{"link text here " * 20}</a> trailing'
    c = _content(f'{ART3}<div class="article">{links}</div>')
    assert "link text here" not in c


def test_sanitize_video_iframe_becomes_text_others_drop():
    c = _content(f'<div><p>{LONG_P}</p>'
                 '<iframe src="https://www.youtube.com/embed/x"></iframe>'
                 '<iframe src="https://ads.example.com/f"></iframe></div>'
                 + ART3)
    assert "VIDEO" in c


def test_sanitize_drops_embed_block():
    c = _content(f'{ART3}<section class="x">short promo'
                 '<embed src="f.swf"></section>')
    assert "short promo" not in c


def test_sanitize_neighbor_allowance_keeps_flanked_block():
    big = "Z" * 600 + ". " + "Y" * 600 + "."
    c = _content(f'<p>{big}</p><div class="x">short junk text</div>'
                 f'<p>{big}</p>{ART3}')
    assert "short junk text" in c


def test_sanitize_drops_negative_class_header():
    c = _content(f'<h2 class="footer">Site header junk</h2>{ART3}')
    assert "Site header junk" not in c


def test_div_with_blocks_lifts_stray_text_and_drops_br():
    # _transform_misused_divs second pass: direct div text becomes a
    # synthetic <p>, child tails too, <br>s drop
    c = _content(f'<div>stray lead text here<p>{LONG_P}</p><br>'
                 f'tail words here</div>{ART3}')
    assert "stray lead text here" in c
    assert "tail words here" in c


def test_blockquote_parent_scores_positive():
    c = _content(f'<blockquote><p>{LONG_P}</p></blockquote>{ART3}')
    assert c.count("This paragraph") == 4


def test_short_period_sibling_paragraph_pulled_in():
    # sibling good-p rule: <=80 chars, zero link density, sentence dot.
    # The wrapper id must be class-weight neutral — an id like "main"
    # gets +25 and the WRAPPER becomes the best candidate, swallowing
    # the sibling and making the rule untestable
    body = (f'<div id="zone"><div id="art">{ART3}</div>'
            '<p>Short closing remark. </p></div>')
    out = extract_html(_page(body))
    assert "Short closing remark" in out


def test_short_sibling_without_period_dropped():
    body = (f'<div id="zone"><div id="art">{ART3}</div>'
            '<p>short remark no dot</p></div>')
    out = extract_html(_page(body))
    assert "short remark no dot" not in out


def test_short_sibling_with_link_dropped():
    body = (f'<div id="zone"><div id="art">{ART3}</div>'
            '<p>See <a href="/x">link</a>. </p></div>')
    out = extract_html(_page(body))
    assert "link" not in out


def test_sanitize_negative_class_survivor_header_dropped():
    # "promo" is negative but NOT an unlikely candidate, so the header
    # reaches sanitize and dies there (class_weight < 0)
    c = _content(f'<h2 class="promo">Buy the promo thing</h2>{ART3}')
    assert "Buy the promo thing" not in c


def test_sanitize_drops_forms_outright():
    c = _content(f'{ART3}<form>inside a form text</form>')
    assert "inside a form text" not in c


def test_sanitize_drops_negative_weight_div_before_rules():
    # weight + content_score < 0 drops without reaching the rule chain;
    # the promo div needs a block child so div->p doesn't convert it
    c = _content(f'{ART3}<div class="promo"><p>{LONG_P}</p></div>')
    assert c.count("This paragraph") == 3


def test_sanitize_comma_rich_block_is_exempt():
    commas = "a, b, c, d, e, f, g, h, i, j, k short"
    c = _content(f'{ART3}<div class="x">{commas}'
                 '<input type="t"><input type="s"></div>')
    assert "a, b, c" in c


def test_sanitize_li_rule_fires_past_the_minus_100():
    # counts["li"] -= 100, so the more-li-than-p rule needs >100 <li>s
    lis = "".join(f"<li>item {i} text</li>" for i in range(105))
    c = _content(f'{ART3}<div class="x"><ul>{lis}</ul></div>')
    assert "item 3 text" not in c


def test_sanitize_short_with_many_images_no_p():
    c = _content(f'{ART3}<section class="x">tiny cap<img src="a">'
                 '<img src="b"><img src="c"></section>')
    assert "tiny cap" not in c


def test_sanitize_low_weight_moderate_links_dropped():
    linky = (f'{LONG_P} <a href="/x">a moderately long anchor text '
             'run that pushes density past the line</a>')
    c = _content(f'{ART3}<div class="x">{linky}</div>')
    assert "moderately long anchor" not in c


def test_sanitize_single_embed_under_75_chars_dropped():
    c = _content(f'{ART3}<section class="x">forty characters of text '
                 'sit right here<embed src="f.swf"></section>')
    assert "forty characters" not in c


def test_sanitize_neighbor_allowance_whitelists_descendants():
    big = "Z" * 600 + ". " + "Y" * 600 + "."
    c = _content(f'<p>{big}</p><div class="x">short junk'
                 f'<div>nested bit</div></div><p>{big}</p>{ART3}')
    assert "short junk" in c and "nested bit" in c


def test_score_node_list_and_header_penalties():
    from ragflow_spark.extractlib.dom import find_first
    from ragflow_spark.extractlib.readability import Document
    # a p inside <li>: the li is scored as its parent, -3 tag penalty
    doc = Document(_page(f"<ul><li><p>{LONG_P}</p></li></ul>").decode())
    root = doc._take_root()
    li = find_first(root, "li")
    assert doc._score_node(li)["content_score"] == -3
    # a p inside <th>: -5
    doc2 = Document(_page(
        f"<table><tr><th><p>{LONG_P}</p></th></tr></table>").decode())
    th = find_first(doc2._take_root(), "th")
    assert doc2._score_node(th)["content_score"] == -5


def test_link_density_of_anchor_counts_descendants_only():
    # lxml findall('.//a') is descendants-only: an <a> candidate's own
    # text is not link text, only nested anchors count.  A bare a-in-a
    # cannot nest (libxml2's a-closes-a htmlStartClose rule),
    # so the descendant anchor sits behind a <span> — verified against
    # the shared library to keep this exact tree shape.
    from ragflow_spark.extractlib.dom import find_first
    from ragflow_spark.extractlib.readability import Document
    doc = Document(_page(
        '<a href="/x">own text <span><a href="/y">inner</a></span>'
        ' tail</a>'
    ).decode())
    a = find_first(doc._take_root(), "a")
    ld = doc._link_density(a)
    assert 0 < ld < 1
    total = len("own text inner tail")
    assert abs(ld - len("inner") / total) < 1e-9


def test_a_closes_a_makes_sibling_anchor():
    # the OLD divergent shape: a bare nested <a> becomes a SIBLING
    # (libxml2 htmlStartClose pair (a, a)) and the outer anchor's link
    # density is 0 — descendants-only with no descendants
    from ragflow_spark.extractlib.dom import find_first
    from ragflow_spark.extractlib.readability import Document
    doc = Document(_page(
        '<a href="/x">own text <a href="/y">inner</a> tail</a>'
    ).decode())
    a = find_first(doc._take_root(), "a")
    assert [c.tag for c in a.children] == []
    assert doc._link_density(a) == 0.0


def test_sanitize_drops_textless_image_div():
    # a sub-div with one img and no text: survives the img>1 arm and
    # dies on the empty-content arm
    body = (f'<div id="art"><p>{LONG_P}</p><p>{LONG_P}</p>'
            '<div><img src="x.png"></div></div>')
    node = __import__(
        "ragflow_spark.extractlib.readability",
        fromlist=["Document"]).Document(
            _page(body).decode()).summary_node()
    tags = [n.tag for n in node.iter()]
    assert "img" not in tags
