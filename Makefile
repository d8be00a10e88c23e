# Developer entry points, mirroring the reference Makefile
# (/root/reference/Makefile): lint via ruff (format + check, settings in
# pyproject.toml), tests via pytest, live services via docker compose.
RUFF ?= ruff
PYTEST ?= python -m pytest
COMPOSE = docker compose -f tests/compose/docker-compose.yml
PY_TARGETS = floorist_spark tests tools __spark_entry__.py bench.py selfcheck.py

.PHONY: all format check lint test slow verify bench compose-up compose-down

all: lint test

format:
	$(RUFF) format $(PY_TARGETS)

check:
	$(RUFF) check $(PY_TARGETS)

# ruff is the real gate and only checks: `make format` is the one target
# that rewrites files. Where ruff is not installed, lint falls back to the
# stdlib subset in tools/lint_fallback.py (same targets) rather than
# failing with "ruff: not found" and enforcing nothing.
lint:
	@if command -v $(RUFF) >/dev/null 2>&1; then \
		$(RUFF) format --check $(PY_TARGETS) && $(RUFF) check $(PY_TARGETS); \
	else \
		echo "ruff unavailable on this box -> stdlib fallback gate"; \
		python tools/lint_fallback.py; \
	fi

test:
	$(PYTEST) -q

# the whole slow tier (full oracle sweep, per-operator suites, slow marks)
slow:
	FLOORIST_SLOW_TESTS=1 $(PYTEST) -q

# driver-contract simulation: every queries() entry vs its DuckDB oracle
verify:
	python selfcheck.py

bench:
	python bench.py

compose-up:
	@if [ -z "$$($(COMPOSE) ps -q 2>/dev/null)" ]; then $(COMPOSE) up -d --wait; fi

compose-down:
	$(COMPOSE) down
