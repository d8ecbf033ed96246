"""Expected crawl outputs, derived from the synthetic corpus's formulas.

The corpus (``crawler_spark.sources.pages``) derives every page from a
document id ``d``: card number ``NUM_BASE + d``; kind ``rf`` for even ``d``
and ``rl`` for odd; the card page is withheld when ``d % 7 == 0``; a card
has ``d % 4`` photos, and photo ``j`` of card ``num`` is withheld when
``(4 * num + j) % 11 == 0``.  The rules are restated here rather than
imported so that a change to the generator or to the crawler shows up as a
failed check instead of moving both sides at once.
"""

from __future__ import annotations

from dataclasses import dataclass, field

NUM_BASE = 100_000
ABSENT_MOD = 7
PHOTO_MOD = 11
PHOTO_SEQ_SLOT = 64
KNOWN_SET_SIZE = 50


def card_exists(d: int) -> bool:
    return d % ABSENT_MOD != 0


def card_id(d: int) -> str:
    return f"{'rf' if d % 2 == 0 else 'rl'}{NUM_BASE + d}"


def photo_exists(num: int, j: int) -> bool:
    return (num * 4 + j) % PHOTO_MOD != 0


def photo_url(num: int, j: int) -> str:
    return f"https://cdn.pet911.ru/Pet_{num}_{j}.webp"


@dataclass
class Crawl:
    """What one crawl must fetch and store."""
    fetches: int = 0
    downloaded: int = 0
    absent: int = 0
    cards: set = field(default_factory=set)         # stored card ids
    photos: set = field(default_factory=set)        # (card id, photo url)
    photos_enqueued: int = 0
    log: set = field(default_factory=set)           # (wave, seq, type, status)
    nums: set = field(default_factory=set)          # stored card numbers


def _photos_of(c: Crawl, d: int, wave: int | None, parent_seq: int) -> None:
    """Photo fetches of stored card ``d``; logged (wave, seq) rows only when
    ``wave`` is given."""
    num = NUM_BASE + d
    for j in range(1, d % 4 + 1):
        ok = photo_exists(num, j)
        c.fetches += 1
        c.photos_enqueued += 1
        c.downloaded += ok
        c.absent += not ok
        if ok:
            c.photos.add((card_id(d), photo_url(num, j)))
        if wave is not None:
            c.log.add((wave, parent_seq * PHOTO_SEQ_SLOT + j, "photo",
                       "downloaded" if ok else "absent"))


def range_crawl(first_doc: int, n: int) -> Crawl:
    """A range-mode crawl of card numbers NUM_BASE+first_doc .. +n-1 into a
    fresh store: wave 1 (the seed is frontier snapshot 0) fetches both
    kinds of every number in enumeration order (rf before rl); wave 2
    fetches the photos of every stored card."""
    c = Crawl()
    for d in range(first_doc, first_doc + n):
        num = NUM_BASE + d
        for rank, kind in enumerate(("rf", "rl")):
            seq = (d - first_doc) * 2 + rank
            ok = card_exists(d) and card_id(d) == f"{kind}{num}"
            c.fetches += 1
            c.downloaded += ok
            c.absent += not ok
            c.log.add((1, seq, "card", "downloaded" if ok else "absent"))
            if ok:
                c.cards.add(card_id(d))
                c.nums.add(num)
                _photos_of(c, d, 2, seq)
    return c


def top_known(nums) -> set:
    return set(sorted(nums, reverse=True)[:KNOWN_SET_SIZE])


def poll(known: set, lookahead: int, corpus_end_doc: int) -> tuple[Crawl, set]:
    """One newcards cycle from ``known``: the check API is probed with every
    tens prefix from max(known)//10 to (max(known)+lookahead)//10, so every
    stored card numbered above max(known) up to the last probed decade is
    found, crawled (card wave, then photo wave) and folded into the known
    set.  Returns the crawl and the new known set."""
    largest = max(known)
    last = ((largest + lookahead) // 10) * 10 + 9
    c = Crawl()
    found = [num for num in range(largest + 1, last + 1)
             if num - NUM_BASE < corpus_end_doc and card_exists(num - NUM_BASE)]
    for num in found:
        d = num - NUM_BASE
        c.fetches += 1
        c.downloaded += 1
        c.cards.add(card_id(d))
        c.nums.add(num)
        _photos_of(c, d, None, 0)  # a poll's crawl order is not checked
    return c, top_known(known | c.nums)


def probe_count(known: set, lookahead: int) -> int:
    """Check-API requests of one cycle: one existence check of the largest
    known number plus one request per probed tens prefix."""
    largest = max(known)
    return 1 + (largest + lookahead) // 10 - largest // 10 + 1
