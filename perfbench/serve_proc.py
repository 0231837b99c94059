"""hlld server process for the hlld_serve workload.

Usage: python3 serve_proc.py DATA_DIR FLUSH_INTERVAL_S

Prints one JSON line with the TCP port once listening, serves until its
stdin closes, then shuts down and prints one JSON line of counters.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hlld_spark.server import HlldServer  # noqa: E402


def main() -> None:
    srv = HlldServer(sys.argv[1], port=0, udp_port=-1, flush_interval=float(sys.argv[2]))
    srv.start_background()
    print(json.dumps({"port": srv.port}), flush=True)
    sys.stdin.read()  # parent closes stdin to stop us
    srv.shutdown()
    srv.server_close()
    print(json.dumps({"flush_count": srv.flush_count}), flush=True)


if __name__ == "__main__":
    main()
