"""pet911.ru field extractors — pure-Python re-expression of the reference's
HtmlAgilityPack XPath parsers (``/root/reference/CrawlerPet911/ParserPet911.fs``).

Every function mirrors one reference parser 1:1, including error messages and
the exact XPath predicate semantics, so extracted values are byte-identical
per url (BASELINE.json invariant).  Each returns ``(value, error)`` where
exactly one side is non-None (except optional-valued parsers where
``(None, None)`` is a legal success, matching F# ``Ok None``).

Enum codes mirror ``CrawlerLib/SemanticTypes.fs:3-12``:
Species dog=1 cat=2; Sex unknown=1 male=2 female=3; EventType lost=1 found=2.

These run inside Arrow-batched pandas UDFs on the Spark side
(``crawler_spark.functions.parse_udfs``) — per-batch Python, not per-row UDFs.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from .dom import Node, parse_html, parse_html_pruned

# Every class attribute the P1-P15 selectors name contains one of these
# substrings, and every nested lookup starts from a node matched that way
# ("card" covers card / card-information / card-info / card-info__value /
# card__content / card__descr / card-map__address / js-card-slide;
# swiper-wrapper is only ever searched INSIDE a card subtree) — so a tree
# built only from these subtrees yields byte-identical extractor results
# to the full tree (per-extractor sweep + goldens + fuzz in
# tests/test_parser_golden.py).
_TRIGGER_CLASSES = ("card", "breadcrumbs", "catalog-item", "swiper")


def parse_doc(text: str) -> Node:
    """Extractor-path parse: pruned tree (see dom._PruningBuilder)."""
    return parse_html_pruned(text, _TRIGGER_CLASSES)


HOST_URL = "https://pet911.ru"  # ParserPet911.fs:7
NO_PHOTO_STUB = "https://pet911.ru/img/no-photo/"  # ParserPet911.fs:41

SPECIES_DOG, SPECIES_CAT = 1, 2
SEX_UNKNOWN, SEX_MALE, SEX_FEMALE = 1, 2, 3
EVENT_LOST, EVENT_FOUND = 1, 2


def _unique(nodes):
    """XPath node-sets are duplicate-free; dedupe while keeping doc order."""
    seen, out = set(), []
    for n in nodes:
        if id(n) not in seen:
            seen.add(id(n))
            out.append(n)
    return out


def _card_info_values(doc: Node, label_pred):
    """//div[@class='card']//div[@class='card-information']/div[@class='card-info']
    [<label_pred on child divs>]/div[@class='card-info__value']  (ParserPet911.fs:10,46,62,89)
    """
    out = []
    for card in doc.find_all("div", class_exact="card"):
        for info_block in card.find_all("div", class_exact="card-information"):
            for row in info_block.child_elements("div"):
                if row.attrs.get("class") != "card-info":
                    continue
                if not label_pred(row.child_elements("div")):
                    continue
                out.extend(
                    v for v in row.child_elements("div")
                    if v.attrs.get("class") == "card-info__value"
                )
    return _unique(out)


def _eq_first_matches_any(label):
    # XPath [div='label'] — existential equality over the child node-set
    return lambda divs: any(d.inner_text() == label for d in divs)


def _contains_first(*substrings):
    # XPath [contains(div,'s')] — string-value of the FIRST child div only
    def pred(divs):
        if not divs:
            return False
        text = divs[0].inner_text()
        return any(s in text for s in substrings)

    return pred


def get_card_id(doc: Node):
    """ParserPet911.fs:9-16."""
    nodes = _card_info_values(doc, _eq_first_matches_any("Номер объявления"))
    if not nodes:
        return None, "Can't find cardID element"
    if len(nodes) != 1:
        return None, f"Found {len(nodes)} cardID instead of 1"
    return nodes[0].inner_text().strip(), None


def _breadcrumb_inner_htmls(doc: Node):
    # //div[contains(@class,'breadcrumbs')]//a[contains(@class,'breadcrumbs__item')]
    anchors = []
    for bc in doc.find_all("div", class_contains="breadcrumbs"):
        anchors.extend(bc.find_all("a", class_contains="breadcrumbs__item"))
    return [a.inner_html() for a in _unique(anchors)] or None


def get_animal_species(doc: Node):
    """ParserPet911.fs:19-31 (OrdinalIgnoreCase contains on InnerHtml)."""
    texts = _breadcrumb_inner_htmls(doc)
    if texts is None:
        return None, "Can't find breadcrumb nodes"
    lowered = [t.lower() for t in texts]
    if any("собаки" in t for t in lowered):
        return SPECIES_DOG, None
    if any("кошки" in t for t in lowered):
        return SPECIES_CAT, None
    return None, "Can't detect species"


def get_event_type(doc: Node):
    """ParserPet911.fs:102-114."""
    texts = _breadcrumb_inner_htmls(doc)
    if texts is None:
        return None, "Can't find breadcrumb nodes"
    lowered = [t.lower() for t in texts]
    if any("найденные" in t for t in lowered):
        return EVENT_FOUND, None
    if any("пропавшие" in t for t in lowered):
        return EVENT_LOST, None
    return None, "Can't detect event type"


def get_photo_urls(doc: Node):
    """ParserPet911.fs:33-43 — empty node-set is Ok([]), not an error."""
    imgs = []
    for card in doc.find_all("div", class_exact="card"):
        for wrapper in card.find_all("div", class_exact="swiper-wrapper"):
            for a in wrapper.find_all("a", class_contains="js-card-slide"):
                imgs.extend(a.child_elements("img"))
    imgs = _unique(imgs)
    if not imgs:
        return [], None
    hrefs = []
    for img in imgs:
        src = img.get("src")
        if src is None:
            return None, "Photo img node has no src attribute"
        if not src.startswith(NO_PHOTO_STUB):
            hrefs.append(src)
    return hrefs, None


def get_event_time_utc(doc: Node):
    """ParserPet911.fs:45-59 — lowercase, trim, last-10-chars, dd.MM.yyyy UTC."""
    nodes = _card_info_values(doc, _contains_first("Найден", "Пропал"))
    if not nodes:
        return None, "Can't find event time element"
    if len(nodes) != 1:
        return None, f"Expected 1 date elements, found {len(nodes)}"
    text = nodes[0].inner_text().lower().strip()
    date_text = text[len(text) - 10:]
    try:
        dt = datetime.strptime(date_text, "%d.%m.%Y").replace(tzinfo=timezone.utc)
    except ValueError:
        return None, "Could not parse event date"
    return dt, None


def get_author_name(doc: Node):
    """ParserPet911.fs:61-68 — missing row is Ok(None)."""
    nodes = _card_info_values(doc, _contains_first("Имя хозяина", "Имя нашедшего"))
    if not nodes:
        return None, None
    if len(nodes) != 1:
        return None, f"Expected single author element, found {len(nodes)}"
    return nodes[0].inner_text().strip(), None


def get_author_message(doc: Node):
    """ParserPet911.fs:70-77."""
    ps = []
    for card in doc.find_all("div", class_exact="card"):
        for content in card.find_all("div", class_exact="card__content"):
            for descr in content.find_all("div", class_contains="card__descr"):
                ps.extend(descr.child_elements("p"))
    ps = _unique(ps)
    if not ps:
        return None, "Can't find message element"
    if len(ps) != 1:
        return None, f"Expected single description element, but got {len(ps)}"
    return ps[0].inner_text().strip(), None


def get_event_address(doc: Node):
    """ParserPet911.fs:79-86."""
    nodes = []
    for card in doc.find_all("div", class_exact="card"):
        nodes.extend(card.find_all("div", class_contains="card-map__address"))
    nodes = _unique(nodes)
    if not nodes:
        return None, "Can't find address element"
    if len(nodes) != 1:
        return None, f"Expected single address element, but got {len(nodes)}"
    return nodes[0].inner_text().strip(), None


def get_animal_sex(doc: Node):
    """ParserPet911.fs:88-100 — missing row is Ok(unknown)."""
    nodes = _card_info_values(doc, _eq_first_matches_any("Пол питомца"))
    if not nodes:
        return SEX_UNKNOWN, None
    if len(nodes) != 1:
        return None, f"Expected single animal sex element, but got {len(nodes)}"
    value = nodes[0].inner_text().strip().lower()
    if value == "мужской":
        return SEX_MALE, None
    if value == "женский":
        return SEX_FEMALE, None
    return None, f"Unexpected sex value {value}"


# [\s\S]* ≡ the reference's (.|\n)* — leftmost match, greedy + backtrack to the
# last {lat: …} block (ParserPet911.fs:116-123, Common.fs:29-34)
_COORDS_RE = re.compile(
    r"initMap\s*\([\s\S]*\{\s*lat\s*:\s*(?P<lat>[\d.]+)\s*,\s*lng\s*:\s*(?P<lon>[\d.]+)\s*\}"
)


def get_event_coords(text: str):
    """ParserPet911.fs:116-123 — regex over the RAW html text, not the DOM."""
    m = _COORDS_RE.search(text)
    if not m:
        return None, "Regex did not find the lat/lon"
    try:
        return (float(m.group("lat")), float(m.group("lon"))), None
    except ValueError:
        return None, "Can't parse lat/lon"


def get_catalog_cards(doc: Node):
    """ParserPet911.fs:125-136 — order-preserving distinct hrefs."""
    anchors = []
    for item in doc.find_all("div", class_contains="catalog-item"):
        anchors.extend(item.find_all("a", class_exact="catalog-item__thumb"))
    anchors = _unique(anchors)
    if not anchors:
        # the reference would NullReference here (ParserPet911.fs:126,131);
        # we surface it as a parse error instead of crashing the executor.
        return None, "Can't find catalog card nodes"
    seen, cards = set(), []
    for a in anchors:
        href = a.get("href", "NOT_FOUND")
        if href in seen:
            continue
        seen.add(href)
        cards.append({"ID": href.rsplit("/", 1)[-1], "url": f"{HOST_URL}{href}"})
    return cards, None


def get_photo_id(photo_url: str):
    """ParserPet911.fs:139-145 — filename (with extension) after the last '/'."""
    idx = photo_url.rfind("/")
    if idx == -1:
        return None, f"Did not find slash: {photo_url}"
    return photo_url[idx + 1:], None


def parse_photo_id(photo_id: str):
    """Utils.fs:36-40 — '{cardId}/{photoId}' → (cardId, photoId) or None."""
    parts = photo_id.split("/")
    if len(parts) == 2:
        return parts[0], parts[1]
    return None


def parse_card(text: str):
    """Full-card assembly with the reference's exact short-circuit order
    (CrawlerPet911/CrawlerPet911.fs:101-161): species → sex → authorName →
    message → cardId → address → time → type → photoUrls → photoIds → coords.
    The FIRST failing extractor's message becomes the card error, other
    fields null — required for error-message byte-identity.

    Returns a dict with the ``cards`` schema of FIXTURES.md §5.
    """
    return assemble_card(parse_doc(text), text)


def assemble_card(doc: Node, text: str):
    """parse_card's extractor pipeline over an already-built tree — split
    out so the pruned-vs-full equivalence gates (test_parser_golden /
    test_pruned_equivalence fuzz) can drive the identical assembly over
    both tree constructions."""
    failed = {
        "id": None, "animal": None, "sex": None, "type": None, "address": None,
        "latitude": None, "longitude": None, "date": None, "description": None,
        "author_name": None, "photos": None, "error": None,
    }

    species, err = get_animal_species(doc)
    if err:
        return {**failed, "error": err}
    sex, err = get_animal_sex(doc)
    if err:
        return {**failed, "error": err}
    author_name, err = get_author_name(doc)
    if err:
        return {**failed, "error": err}
    message, err = get_author_message(doc)
    if err:
        return {**failed, "error": err}
    card_id, err = get_card_id(doc)
    if err:
        return {**failed, "error": err}
    address, err = get_event_address(doc)
    if err:
        return {**failed, "error": err}
    event_time, err = get_event_time_utc(doc)
    if err:
        return {**failed, "error": err}
    event_type, err = get_event_type(doc)
    if err:
        return {**failed, "error": err}
    photo_urls, err = get_photo_urls(doc)
    if err:
        return {**failed, "error": err}
    bare_photo_ids = []
    for u in photo_urls:  # Common.allResults fail-fast, first error wins
        pid, err = get_photo_id(u)
        if err:
            return {**failed, "error": err}
        bare_photo_ids.append(pid)
    coords, err = get_event_coords(text)
    if err:
        return {**failed, "error": err}

    return {
        "id": card_id,
        "animal": species,
        "sex": sex,
        "type": event_type,
        "address": address,
        "latitude": coords[0],
        "longitude": coords[1],
        "date": event_time,
        "description": message,
        "author_name": author_name,
        "photos": [
            {"ID": f"{card_id}/{pid}", "url": u}
            for pid, u in zip(bare_photo_ids, photo_urls)
        ],
        "error": None,
    }
