"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``--seed`` and the sizes passed in;
the program under test only ever sees the files written here, laid out
like ``sources.fixtures`` (``feeds.txt`` + ``sites/<host>/...``).
"""

from __future__ import annotations

import os
import random

ROBOTS = (
    "User-agent: *\n"
    "Disallow: /images/private/\n"
    "Crawl-delay: {delay}\n"
    "\n"
    "User-agent: plow-spark\n"
    "Disallow: /images/private/\n"
)

HOT_HOST = "hot.example.com"


def _rss(items: list[str]) -> str:
    body = "\n".join(f'    <item><title>{i}</title><enclosure url="{u}" type="image/x-synthetic" length="1"/></item>'
                     for i, u in enumerate(items))
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n<rss version="2.0">\n  <channel>\n'
        f"    <title>bench feed</title>\n{body}\n  </channel>\n</rss>\n"
    )


def frontier_fixtures(
    root: str,
    seed: int,
    n_urls: int,
    n_image_hosts: int,
    n_feed_hosts: int,
    feed_every: int,
    entries_per_feed: int,
    hot_frac: float,
    seen_per_feed: int,
) -> dict:
    """A large seed list in the fixture layout: image seeds over
    ``n_image_hosts`` hosts plus one hot host carrying ``hot_frac`` of
    them, and every ``feed_every``-th seed a feed with
    ``entries_per_feed`` entries.

    The first ``seen_per_feed`` entries of each feed re-state an image
    seed already in the frontier; every other entry is an image URL seen
    nowhere else. A third of all entries carry tracking parameters that
    canonicalise away."""
    rng = random.Random(seed)
    img_hosts = [f"img{h:04d}.example.com" for h in range(n_image_hosts)]
    feed_hosts = [f"feeds{h:03d}.example.com" for h in range(n_feed_hosts)]
    seeds: list[str] = []
    image_seeds: list[str] = []
    feeds: list[str] = []
    for i in range(n_urls):
        if i % feed_every == feed_every - 1:
            u = f"https://{rng.choice(feed_hosts)}/f/{i:08d}/feed.xml"
            feeds.append(u)
        else:
            host = HOT_HOST if rng.random() < hot_frac else rng.choice(img_hosts)
            u = f"https://{host}/images/s-{i:08d}"
            image_seeds.append(u)
        seeds.append(u)
    for host in [HOT_HOST, *img_hosts, *feed_hosts]:
        os.makedirs(os.path.join(root, "sites", host), exist_ok=True)
        with open(os.path.join(root, "sites", host, "robots.txt"), "w") as fh:
            fh.write(ROBOTS.format(delay=0.25))
    n_entries = 0
    for fi, u in enumerate(feeds):
        _, _, host, *path = u.split("/")
        items = [
            rng.choice(image_seeds) if j < seen_per_feed else f"https://{rng.choice(img_hosts)}/images/d-{fi:07d}-{j:03d}"
            for j in range(entries_per_feed)
        ]
        items = [x + "?utm_source=rss" if j % 3 == 0 else x for j, x in enumerate(items)]
        d = os.path.join(root, "sites", host, *path[:-1])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, path[-1]), "w") as fh:
            fh.write(_rss(items))
        n_entries += len(items)
    with open(os.path.join(root, "feeds.txt"), "w") as fh:
        fh.write("# benchmark seed list\n" + "\n".join(seeds) + "\n")
    return {"seeds": n_urls, "feeds": len(feeds), "entries": n_entries}
