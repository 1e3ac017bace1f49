"""Workload inputs: seed -> crawl seeds, web config and politeness budget.

A workload sets only crawl inputs (``CrawlSeed`` list, ``WebConfig``,
``host_tokens``) plus, for ``polite_recrawl``, where the crawl is killed
and which pages are invalidated.  It never sets an engine knob, so a change
that deletes a knob runs this benchmark unchanged.  The workload seed
drives cities, deal types, rooms, page ranges and fault placement.

Every list URL lives on one host (``cian.ru``), so ``host_tokens`` is
the whole crawl's per-wave budget.
"""

from __future__ import annotations

import dataclasses
import random
from dataclasses import dataclass, field

from cianparser_spark.corpus import webgen
from cianparser_spark.dims import CITIES
from cianparser_spark.engine import model
from cianparser_spark.semantics.simulator import CrawlSeed

ROOM_CHOICES = ((1,), (2,), (1, 2), (2, 3), (1, 2, 3), "all")


@dataclass
class Inputs:
    seeds: list
    cfg: webgen.WebConfig
    host_tokens: int
    # polite_recrawl only: waves the first engine runs before it is dropped,
    # and the (seed_id, page_number) list pages invalidated afterwards
    kill_after: int | None = None
    invalidate: list = field(default_factory=list)

    def list_urls(self) -> list[str]:
        return [u for s in self.seeds for u in seed_list_urls(s)]


def seed_list_urls(seed: CrawlSeed) -> list[str]:
    """The list-page URLs of one seed, in page order."""
    rt = model.seed_runtime(seed)
    return [rt["template"].format(p)
            for p in range(rt["start_page"], rt["end_page"] + 1)]


def _full_pages_cfg(pages: int, **faults) -> webgen.WebConfig:
    """Every query's unfiltered universe holds exactly ``pages`` full list
    pages, so a seed's pages are full whatever its city and deal type
    (and, with a universe well above the pages crawled, its rooms)."""
    return dataclasses.replace(
        webgen.DEFAULT_CONFIG,
        universe_base=pages * webgen.PAGE_SIZE,
        universe_span=1,
        **faults,
    )


def bulk(seed: int) -> Inputs:
    """One wave: a budget >= every page, faults off, list pages only.
    16 x 36 pages keeps the wave above the engine's codegen row floor
    (pages x 32 >= 16,384), the big-wave execution mode."""
    rng = random.Random(f"bulk|{seed}")
    n_seeds, n_pages = 16, 36
    cities = rng.sample(list(CITIES), n_seeds)
    seeds = []
    for i, city in enumerate(cities):
        start = rng.randint(1, webgen.SITE_PAGE_CAP - n_pages + 1)
        seeds.append(CrawlSeed(
            i + 1, city, "flat", rng.choice(("sale", "rent_long")),
            rooms="all",
            additional_settings={"start_page": start,
                                 "end_page": start + n_pages - 1}))
    cfg = _full_pages_cfg(webgen.SITE_PAGE_CAP, fail_500_mod=10**9,
                          fail_429_mod=10**9, faults_on_details=False)
    return Inputs(seeds, cfg, host_tokens=n_seeds * n_pages)


def _one_hit(urls: list[str], residue: int, taken: set, rng) -> int:
    """A modulus under which exactly one of ``urls`` hashes to
    ``residue`` (webgen.status_for's fault placement), and that URL is
    not in ``taken``; the URL is added to ``taken``."""
    hashes = [(u, webgen.stable_hash(f"status|{u}")) for u in urls]
    moduli = list(range(11, 500))
    rng.shuffle(moduli)
    for m in moduli:
        hits = [u for u, h in hashes if h % m == residue]
        if len(hits) == 1 and hits[0] not in taken:
            taken.add(hits[0])
            return m
    raise ValueError("no modulus isolates a single URL")


def polite_recrawl(seed: int) -> Inputs:
    """A small per-wave budget with every list-page fault kind on and one
    detail-enriched seed; the crawl is killed after two waves, resumed
    on a fresh engine, then two fault-free list pages are invalidated
    and re-crawled.

    Each fault kind hits exactly one list page (the seed picks which),
    so every seed does the same amount of work.  Detail pages are
    fault-free for the same reason (a failing detail aborts its page's
    whole walk), which also keeps the re-crawl convergent: it must
    reproduce the original crawl's rows exactly."""
    rng = random.Random(f"polite_recrawl|{seed}")
    cities = rng.sample(list(CITIES), 6)
    seeds = [CrawlSeed(i + 1, city, "flat", rng.choice(("sale", "rent_long")),
                       rooms=rng.choice(ROOM_CHOICES),
                       additional_settings={"start_page": 1, "end_page": 3})
             for i, city in enumerate(cities[:-1])]
    detail = CrawlSeed(6, cities[-1], "flat", "sale",
                       rooms=rng.choice(ROOM_CHOICES), with_extra_data=True,
                       additional_settings={"start_page": 1, "end_page": 1})
    inputs = Inputs(seeds + [detail], webgen.DEFAULT_CONFIG, host_tokens=24,
                    kill_after=2)
    list_urls = inputs.list_urls()
    # the captcha stops its seed at page 2; the other faults avoid the
    # detail seed's page so its detail walk always runs
    captcha = rng.choice([u for u in list_urls if "&p=2&" in u])
    taken = {captcha, list_urls[-1]}
    inputs.cfg = _full_pages_cfg(
        20,
        captcha_pages=frozenset({captcha}),
        dead_mod=_one_hit(list_urls, 3, taken, rng),
        noheader_mod=_one_hit(list_urls, 5, taken, rng),
        fail_500_mod=_one_hit(list_urls, 0, taken, rng),
        fail_429_mod=_one_hit(list_urls, 1, taken, rng),
        faults_on_details=False,
    )
    # re-crawl two fault-free list pages the reference fetched (pages
    # after the captcha are never fetched)
    stopped = captcha.replace("&p=2&", "&p=3&")
    clean = [(s.seed_id, p) for s in seeds
             for p, u in enumerate(seed_list_urls(s), start=1)
             if u not in taken and u != stopped]
    inputs.invalidate = sorted(rng.sample(clean, 2))
    return inputs


def warmup() -> Inputs:
    """One seed, two list pages: the one-wave crawl set-up runs."""
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                     additional_settings={"end_page": 2})
    return Inputs([seed], webgen.DEFAULT_CONFIG, host_tokens=64)


WORKLOADS = {"bulk": bulk, "polite_recrawl": polite_recrawl}
