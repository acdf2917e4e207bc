"""A no-kernel extraction strategy for the layer ladder.

Registered under :data:`NAME`, it sends every row across the Arrow
boundary of ``job.extract_detailed`` and returns an empty plain result,
so the ladder step that uses it costs the exchange plus the Python
hand-off and nothing of the kernel.  It lives in its own module so that
Spark's Python workers import it by name instead of unpickling a new
class for every task.
"""

NAME = "perfbench_identity"


class IdentityExtractor:
    def __init__(self, force_ocr: bool = False):
        self.version = "perfbench-identity"

    def extract(self, payload):
        return "plain", [], ""
