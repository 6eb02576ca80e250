"""Behavioral constants carried over from the reference for parity.

Each constant cites the reference file:line it mirrors (see SURVEY.md §6).
"""

# Default number of papers sampled by the extract pipeline (main.py:205,222)
DEFAULT_NUM_PAPERS = 1000

# Default RNG seed for sampling (main.py:205)
DEFAULT_SEED = 42

# Hard cap on wikir-style extraction jobs (api.py:209-212)
MAX_DOCS = 500

# Hard cap on Wikipedia category crawls (api.py:853-856)
MAX_CRAWL_ARTICLES = 1000
DEFAULT_CRAWL_ARTICLES = 200

# Per-document content cap before PDF render (api.py:327, api.py:793)
PDF_CONTENT_CAP = 50_000

# PDF render chunk size in chars (api.py:793)
PDF_CHUNK_SIZE = 1000

# Frontmatter metadata values longer than this are skipped (main.py:94)
FRONTMATTER_VALUE_CAP = 1000

# Filename caps (main.py:80; api.py:271, api.py:773)
FILENAME_CAP = 100
PDF_TITLE_CAP = 80

# Content-column heuristic: first string column whose sample value is
# longer than this is treated as the content column (main.py:46-47)
CONTENT_MIN_LEN = 100

# Candidate column names for content / title resolution (main.py:35,58)
CONTENT_CANDIDATES = ["text", "content", "markdown", "mmd", "body"]
TITLE_CANDIDATES = ["title", "name", "paper_title"]

# Politeness delay for remote fetch sources, seconds/request (api.py:938)
FETCH_DELAY_S = 1.0

# Error side-channel cap: collect at most this many errors (api.py:372,563)
MAX_ERRORS = 20

# Row cap for the generic /api/query/<name> endpoint: async jobs
# return a bounded preview, never an unbounded collect into the
# job-status table.
MAX_QUERY_ROWS = 1000

# Entry cap for the job service's in-memory status table: past it the
# oldest finished jobs are dropped (a running job never is).
MAX_JOBS = 1000
