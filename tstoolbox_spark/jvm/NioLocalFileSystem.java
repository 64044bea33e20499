package tstoolbox;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local filesystem ({@code .crc} sidecars, verified
 * reads) over a raw layer that sets permissions through java.nio.
 * Without Hadoop's native library, RawLocalFileSystem.setPermission
 * forks {@code chmod} for every file and directory it creates.
 */
public class NioLocalFileSystem extends LocalFileSystem {
    public NioLocalFileSystem() {
        super(new Raw());
    }

    public static class Raw extends RawLocalFileSystem {
        @Override
        public void setPermission(Path p, FsPermission permission) throws IOException {
            int mode = permission.toShort();
            if ((mode & ~0777) != 0) {  // the sticky bit: leave it to chmod
                super.setPermission(p, permission);
                return;
            }
            // PosixFilePermission lists OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
            Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
            for (PosixFilePermission bit : PosixFilePermission.values()) {
                if ((mode & (0400 >> bit.ordinal())) != 0) {
                    perms.add(bit);
                }
            }
            Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
        }
    }
}
