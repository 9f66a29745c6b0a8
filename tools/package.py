"""Build dist/sketchlib.zip for ``spark-submit --py-files`` deployment.

Usage: python tools/package.py [OUT]  ->  OUT (default dist/sketchlib.zip)
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if __name__ == "__main__":
    sys.path.insert(0, REPO)
    from sketchlib.spark.shipping import build_zip

    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "dist", "sketchlib.zip")
    print(build_zip(out))
