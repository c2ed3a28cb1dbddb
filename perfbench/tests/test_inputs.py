"""The seed-list generator: deterministic, seed-sensitive, right shape."""

from perfbench import inputs


def test_seed_list_is_a_function_of_the_seed():
    assert inputs.crawl_seed_urls(7, 500) == inputs.crawl_seed_urls(7, 500)
    assert inputs.crawl_seed_urls(7, 500) != inputs.crawl_seed_urls(8, 500)
    # a longer list extends the shorter one
    assert inputs.crawl_seed_urls(7, 800)[:500] == inputs.crawl_seed_urls(7, 500)


def test_seed_list_keeps_the_bench_web_and_hot_host_share():
    urls = inputs.crawl_seed_urls(3, 20_000)
    hot = sum(u.startswith(f"https://h0{inputs.BENCH_DOMAIN}/") for u in urls)
    assert 0.23 < hot / len(urls) < 0.27
    hosts = {u.split("/")[2] for u in urls}
    assert all(h.endswith(inputs.BENCH_DOMAIN) for h in hosts)
    ids = {int(h.split(".")[0][1:]) for h in hosts}
    assert min(ids) == 0 and max(ids) < inputs.BENCH_HOSTS
    assert len(ids) > 3000  # spread over most of the 4096 hosts
    items = [int(u.rsplit("/", 1)[1]) for u in urls]
    assert 0 <= min(items) and max(items) < inputs.BENCH_UNIVERSE


def test_seed_list_matches_the_program_web():
    from llm_scraper_spark.sources import synthweb

    assert inputs.BENCH_DOMAIN == synthweb.BENCH_DOMAIN
    assert inputs.BENCH_HOSTS == synthweb.BENCH_HOSTS
    assert inputs.BENCH_UNIVERSE == synthweb.BENCH_UNIVERSE
